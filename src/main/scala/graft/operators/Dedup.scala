package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize
import graft.functions.TextFunctions._

/** Deduplication operators for large-scale text pipelines (BASELINE.json
  * north star). Each variant trades exactness for scale differently:
  *
  *  - [[exact]]: hash-groupBy — one shuffle on the content hash.
  *  - [[ngramJaccardPairs]]: exact n-gram Jaccard, brute-force within a
  *    blocking column — O(block²); for bounded blocks only.
  *  - [[minhashLshPairs]]: MinHash+LSH — the 100 TB path: per-doc signature
  *    (narrow), band explode (×bands), shuffle on (band, bandSignature)
  *    buckets, candidate pairs verified with exact Jaccard. No O(n²) stage;
  *    skew-resistant because bucket sizes are bounded by collision
  *    probability, and a `maxBucketSize` guard drops degenerate buckets
  *    (e.g. empty-text clusters) the way production dedup pipelines do.
  *  - [[simhashDocs]]: 32-bit SimHash fingerprint per doc; near-dup pairs =
  *    equal fingerprints or banded hamming probes.
  */
object Dedup {

  /** Exact dedup: canonical row per content hash + copy count.
    * (doc_id kept = min id per hash — deterministic.) */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(
        min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("n_copies"))

  /** [[exact]] with a QUALITY-aware canonical policy: among identical
    * texts keep the copy with the highest `scoreCol` (tie → lowest id) —
    * the "keep the best-provenance duplicate" rule real pipelines prefer
    * over min-id. Same single hash-keyed shuffle: the argmax rides the
    * agg as `min(struct(-score, id))`, no window, no second pass. */
  def exactKeepBest(df: DataFrame, idCol: String, textCol: String,
      scoreCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(
        count(lit(1)).as("n_copies"),
        min(struct((-col(scoreCol)).as("ns"), col(idCol).as("id")))
          .as("__best"))
      .select(col("content_hash"), col("__best.id").as("canonical_id"),
        (-col("__best.ns")).as("canonical_score"), col("n_copies"))

  /** Exact n-gram Jaccard similarity for all pairs within a blocking key.
    * Returns (id_1, id_2, jaccard) for pairs >= threshold. */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      n: Int,
      threshold: Double
  ): DataFrame = {
    // shingles are hashed to longs before pairing: the O(pairs) join then
    // moves/intersects compact long arrays instead of strings (the 60-bit
    // hash is injective in practice; a cross-pair collision needs ~2^30
    // distinct shingles per pair)
    val withShingles = df.select(
      col(blockCol).as("block"),
      col(idCol).as("id"),
      shingleHashes60(col(textCol), n).as("sh"))
    // Inverted-index intersection instead of the all-pairs array join: a
    // pair's |A∩B| is its co-occurrence count over (block, shingle) — so
    // only narrow (block, shingle, id, |set|) rows ever shuffle, partial
    // aggregation combines map-side, and non-overlapping pairs (the vast
    // majority of any block²) are never materialized at all. The former
    // shape joined the FULL shingle arrays across all block² pairs and
    // intersected per pair — 369 s at sf0.1 and quadratic in block size.
    // Skew note: a shingle shared by m docs in a block yields m² pair rows;
    // at 100 TB prune ubiquitous shingles (df-cap) or pre-dedup exact
    // copies first ([[exactDups]]) — boilerplate shingles are near-dup mass
    // by definition.
    val ex = withShingles.select(col("block"), col("id"),
      size(col("sh")).as("n"), explode(col("sh")).as("s"))
    val inter = ex.select(col("block"), col("s"), col("id").as("id_1"), col("n").as("n_1"))
      .join(ex.select(col("block"), col("s"), col("id").as("id_2"), col("n").as("n_2")),
        Seq("block", "s"))
      .filter(col("id_1") < col("id_2"))
      // size prune: jaccard <= min(|A|,|B|)/max(|A|,|B|); dropping hopeless
      // pairs BEFORE the count-aggregation shrinks the shuffle
      .filter(least(col("n_1"), col("n_2")).cast("double") >=
        lit(threshold) * greatest(col("n_1"), col("n_2")))
      .groupBy(col("id_1"), col("id_2"), col("n_1"), col("n_2"))
      .agg(count(lit(1)).cast("double").as("inter"))
    inter
      // |A∪B| = |A|+|B|-|A∩B| for distinct sets
      .withColumn("uni", (col("n_1") + col("n_2")).cast("double") - col("inter"))
      .filter(col("uni") > 0)
      .withColumn("jaccard", round(col("inter") / col("uni"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_1"), col("id_2"), col("jaccard"))
  }

  /** MinHash + LSH near-duplicate pairs, exact-Jaccard verified.
    *
    * Pipeline: shingle → minhash signature (numHashes = bands*rowsPerBand) →
    * explode into bands → group docs by (band index, band signature) →
    * within-bucket candidate pairs → exact Jaccard on the original shingle
    * sets → filter >= threshold. Docs with no shingles are dropped (no
    * signature).
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      bands: Int,
      rowsPerBand: Int,
      threshold: Double,
      maxBucketSize: Int = 1000
  ): DataFrame = {
    val params = minhashParams(bands * rowsPerBand)
    // the (pair-sized, small) result is what the scope materializes
    Materialize.scoped { pin =>
      // pinned: the shingle+signature subtree feeds four consumers (band
      // explode, the size-prune, both sides of the verification join) —
      // without it Spark recomputes the per-shingle hashing each time
      val docs = pin(df.select(
        col(idCol).as("id"),
        shingleHashes60(col(textCol), n).as("sh"))
        .filter(size(col("sh")) > 0)
        .withColumn("sig", minhashSignature(col("sh"), params)))

      val banded = docs.select(
        col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          i => slice(col("sig"), i * rowsPerBand + 1, lit(rowsPerBand)))))
        .withColumnRenamed("pos", "band_idx")
        .withColumnRenamed("col", "band_sig")

      // count-first shed (see shedOvercapBuckets): the size guard must
      // bound the AGGREGATION BUFFER, not just downstream fan-out — a
      // boilerplate signature at corpus scale would otherwise concentrate
      // the population in one collect_list before the filter ever runs
      val buckets = shedOvercapBuckets(banded,
          Seq("band_idx", "band_sig"), 2L, maxBucketSize.toLong)
        .groupBy(col("band_idx"), col("band_sig"))
        .agg(collect_list(col("id")).as("ids"))

      val candidates = buckets
        .select(explode(col("ids")).as("id_1"), col("ids"))
        .select(col("id_1"), explode(col("ids")).as("id_2"))
        .filter(col("id_1") < col("id_2"))
        .distinct()

      // size prune BEFORE the shingle arrays move: jaccard <= min/max sizes,
      // so a pair whose size ratio is already below threshold never joins the
      // (wide) array columns — only a 2-int-column projection shuffles here.
      val sizes = docs.select(col("id"), size(col("sh")).as("n"))
      val pruned = candidates
        .join(sizes.select(col("id").as("id_1"), col("n").as("n_1")), "id_1")
        .join(sizes.select(col("id").as("id_2"), col("n").as("n_2")), "id_2")
        .filter(least(col("n_1"), col("n_2")).cast("double") >=
          lit(threshold) * greatest(col("n_1"), col("n_2")))
        .select(col("id_1"), col("id_2"))

      val sh1 = docs.select(col("id").as("id_1"), col("sh").as("sh_1"))
      val sh2 = docs.select(col("id").as("id_2"), col("sh").as("sh_2"))
      pruned
        .join(sh1, "id_1").join(sh2, "id_2")
        .withColumn("inter", size(array_intersect(col("sh_1"), col("sh_2"))).cast("double"))
        // |A∪B| = |A|+|B|-|A∩B| for distinct arrays: skips materializing the
        // union array (the second-most-expensive op of the verify stage)
        .withColumn("uni",
          (size(col("sh_1")) + size(col("sh_2"))).cast("double") - col("inter"))
        .filter(col("uni") > 0)
        .withColumn("jaccard", round(col("inter") / col("uni"), 6))
        .filter(col("jaccard") >= threshold)
        .select(col("id_1"), col("id_2"), col("jaccard"))
    }
  }

  /** Incremental cross-batch near-dup matching: flag documents of a NEW
    * `batch` that are near-duplicates (Jaccard >= `threshold`) of any
    * document already in the `index` corpus — the continuous-ingestion
    * shape where yesterday's corpus must never be re-scanned to admit
    * today's crawl. Same MinHash family/banding as [[minhashLshPairs]], but
    * the two sides are asymmetric: the index side's (band, signature)
    * bucket table is the PERSISTED artifact (at 100 TB: a table bucketed by
    * band key, built once, appended per batch), and a new batch shuffles
    * only its own band keys into it. Candidates are exact-verified, so
    * every emitted match is real; `maxBucketSize` sheds degenerate
    * boilerplate buckets on the index side.
    *
    * RECALL TRADE-OFF: a shed bucket silently loses every true match it
    * alone would have surfaced — on boilerplate-heavy corpora (one
    * signature shared by >maxBucketSize index docs) a batch twin of that
    * boilerplate can go unflagged. Audit with
    * [[incrementalLshBucketSizes]] (same banding, run alongside): 0 rows
    * at the cap = nothing shed; oversized buckets mean either raise the
    * cap or treat those signatures as a stop-list handled upstream.
    * DedupSpec pins that the q180 corpus never hits the default cap.
    * Output: (batch_id, index_id, jaccard). */
  def incrementalLshMatches(
      index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, threshold: Double,
      maxBucketSize: Int = 1000
  ): DataFrame =
    incrementalLshMatchesFromIndex(
      lshIndex(index, idCol, textCol, n, bands, rowsPerBand), batch,
      idCol, textCol, n, bands, rowsPerBand, threshold, maxBucketSize)

  /** The (id, sh, sig) MinHash artifact of a corpus — the thing a
    * continuous-ingestion deployment WRITES once (bucketed by band key at
    * 100 TB) so per-batch matching never re-shingles or re-hashes the
    * accumulated corpus. Map-only; append each admitted batch's rows. */
  def lshIndex(docs: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val params = minhashParams(bands * rowsPerBand)
    docs.select(col(idCol).as("id"),
        shingleHashes60(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignature(col("sh"), params))
  }

  /** [[incrementalLshMatches]] probing a PERSISTED [[lshIndex]] artifact:
    * the index side arrives as (id, sh, sig) rows read back from storage,
    * so each batch costs its own shingling plus a band-keyed probe —
    * the accumulated corpus is read, never recomputed. Same output and
    * same recall trade-off as the from-text form. */
  def incrementalLshMatchesFromIndex(
      indexArt: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, threshold: Double,
      maxBucketSize: Int = 1000
  ): DataFrame =
    incrementalLshArtifactMatches(indexArt,
      lshIndex(batch, idCol, textCol, n, bands, rowsPerBand),
      bands, rowsPerBand, threshold, maxBucketSize)

  /** The artifact-level core: BOTH sides arrive as (id, sh, sig)
    * [[lshIndex]] rows — a streaming admission that also writes the
    * batch's artifact to the index shingles the batch once, not twice. */
  def incrementalLshArtifactMatches(
      indexArt: DataFrame, batchArt: DataFrame,
      bands: Int, rowsPerBand: Int, threshold: Double,
      maxBucketSize: Int = 1000
  ): DataFrame = {
    def bandRows(docs: DataFrame): DataFrame = docs.select(
      col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        i => slice(col("sig"), i * rowsPerBand + 1, lit(rowsPerBand)))))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_sig")

    Materialize.scoped { pin =>
      val idx = pin(indexArt.select(col("id"), col("sh"), col("sig")))
      val bat = pin(batchArt.select(col("id"), col("sh"), col("sig")))
      // the production artifact: index buckets keyed by (band, signature) —
      // capped count-first (shedOvercapBuckets), so one boilerplate
      // signature can neither quadratic-blow the probe NOR concentrate the
      // index in a single collect_list buffer before the cap applies
      val idxBuckets = shedOvercapBuckets(bandRows(idx),
          Seq("band_idx", "band_sig"), 1L, maxBucketSize.toLong)
        .groupBy(col("band_idx"), col("band_sig"))
        .agg(collect_list(col("id")).as("ids"))
      val candidates = bandRows(bat)
        .join(idxBuckets, Seq("band_idx", "band_sig"))
        .select(col("id").as("batch_id"), explode(col("ids")).as("index_id"))
        .distinct()

      // size prune, then exact verify — only flagged candidates carry arrays
      val bSizes = bat.select(col("id").as("batch_id"), size(col("sh")).as("n_b"))
      val iSizes = idx.select(col("id").as("index_id"), size(col("sh")).as("n_i"))
      val pruned = candidates.join(bSizes, "batch_id").join(iSizes, "index_id")
        .filter(least(col("n_b"), col("n_i")).cast("double") >=
          lit(threshold) * greatest(col("n_b"), col("n_i")))
        .select(col("batch_id"), col("index_id"))
      pruned
        .join(bat.select(col("id").as("batch_id"), col("sh").as("sh_b")), "batch_id")
        .join(idx.select(col("id").as("index_id"), col("sh").as("sh_i")), "index_id")
        .withColumn("inter", size(array_intersect(col("sh_b"), col("sh_i"))).cast("double"))
        .withColumn("uni",
          (size(col("sh_b")) + size(col("sh_i"))).cast("double") - col("inter"))
        .filter(col("uni") > 0)
        .withColumn("jaccard", round(col("inter") / col("uni"), 6))
        .filter(col("jaccard") >= threshold)
        .select(col("batch_id"), col("index_id"), col("jaccard"))
    }
  }

  /** Audit surface for [[incrementalLshMatches]]'s `maxBucketSize` shed:
    * the index side's (band_idx, band_sig) bucket populations under the
    * SAME shingling/banding. Run it alongside an incremental dedup — any
    * bucket at or over the cap is a signature whose matches the main pass
    * silently drops (no silent caps: the shed must be visible). */
  def incrementalLshBucketSizes(
      index: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int
  ): DataFrame = {
    val params = minhashParams(bands * rowsPerBand)
    index.select(col(idCol).as("id"),
        shingleHashes60(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignature(col("sh"), params))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          i => slice(col("sig"), i * rowsPerBand + 1, lit(rowsPerBand)))))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_sig")
      .groupBy(col("band_idx"), col("band_sig"))
      .agg(count(lit(1)).as("bucket_size"))
  }

  /** MinHash estimator calibration: for every band-colliding pair, the
    * signature-agreement Jaccard estimate (integer ppm: agreeing positions
    * / total hashes) NEXT TO the exact Jaccard — the measurement loop that
    * justifies a (bands, rowsPerBand) choice before committing a 100 TB
    * dedup run to it. Candidates come from the banding under test itself,
    * so the output is exactly "the pairs this configuration would surface,
    * and how far off its estimates are". */
  def minhashCalibration(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int
  ): DataFrame = {
    val params = minhashParams(bands * rowsPerBand)
    Materialize.scoped { pin =>
      val docs = pin(df.select(
        col(idCol).as("id"),
        shingleHashes60(col(textCol), n).as("sh"))
        .filter(size(col("sh")) > 0)
        .withColumn("sig", minhashSignature(col("sh"), params)))
      val banded = docs.select(
        col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          i => slice(col("sig"), i * rowsPerBand + 1, lit(rowsPerBand)))))
        .withColumnRenamed("pos", "band_idx")
        .withColumnRenamed("col", "band_sig")
      // calibration is deliberately UNCAPPED (it measures every colliding
      // pair the config would surface), but the >=2 gate still goes
      // count-first so singleton buckets never buffer
      val candidates = shedOvercapBuckets(banded,
          Seq("band_idx", "band_sig"), 2L, Long.MaxValue)
        .groupBy(col("band_idx"), col("band_sig"))
        .agg(collect_list(col("id")).as("ids"))
        .select(col("ids"))
        .select(explode(col("ids")).as("id_1"), col("ids"))
        .select(col("id_1"), explode(col("ids")).as("id_2"))
        .filter(col("id_1") < col("id_2"))
        .distinct()
      val both = candidates
        .join(docs.select(col("id").as("id_1"), col("sh").as("sh_1"),
          col("sig").as("sig_1")), "id_1")
        .join(docs.select(col("id").as("id_2"), col("sh").as("sh_2"),
          col("sig").as("sig_2")), "id_2")
      val agree = aggregate(
        zip_with(col("sig_1"), col("sig_2"), (x, y) => (x === y).cast("long")),
        lit(0L), (acc, x) => acc + x)
      both
        .withColumn("__agree", agree)
        .withColumn("est_ppm",
          expr(s"(1000000 * __agree) div ${bands * rowsPerBand}"))
        .withColumn("inter", size(array_intersect(col("sh_1"), col("sh_2"))).cast("double"))
        .withColumn("uni",
          (size(col("sh_1")) + size(col("sh_2"))).cast("double") - col("inter"))
        .filter(col("uni") > 0)
        .withColumn("jaccard", round(col("inter") / col("uni"), 6))
        .select(col("id_1"), col("id_2"), col("est_ppm"), col("jaccard"))
    }
  }

  /** Near-duplicate CLUSTERS from pairwise matches: connected components
    * via iterative min-label propagation (the step that turns LSH pair
    * output into canonical dedup groups — keep min id per cluster, drop the
    * rest). Converges in graph-diameter iterations; near-dup components are
    * shallow in practice, and `maxIter` bounds the loop. The per-iteration
    * convergence check is the one intentional driver-side action (standard
    * for iterative graph algorithms; each iteration is a bounded self-join
    * on the pair set, not the corpus). */
  def clusterPairs(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // localCheckpoint (not persist): each iteration's plan would otherwise
    // embed the whole prior lineage and planning time grows exponentially —
    // the standard lineage-truncation requirement of iterative algorithms.
    val edges = pairs.select(col("id_1").as("u"), col("id_2").as("v"))
      .union(pairs.select(col("id_2").as("u"), col("id_1").as("v")))
      .distinct()
      .localCheckpoint(true)
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "v")
          .withColumnRenamed("cluster_id", "n_label"), Seq("v"))
        .groupBy(col("u").as("id"))
        .agg(min(col("n_label")).as("n_min"))
      // carry the old label THROUGH the round frame: the convergence
      // count is then a filter over the (lazily) checkpointed round —
      // one job per round, no join-back against the prior labels (which
      // cost a second join + a second action every round).
      // INVARIANT (lazy localCheckpoint): the action immediately below
      // (the changes count) must scan EVERY partition of this frame —
      // a partial action (isEmpty/limit) would leave it un-materialized
      // and later consumers would recompute nondeterministic lineage
      val updated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("n_min"), col("cluster_id")))
            .as("cluster_id"),
          col("cluster_id").as("__old"))
        .localCheckpoint(false)
      val changes = updated.filter(col("cluster_id") =!= col("__old")).count()
      labels = updated.select(col("id"), col("cluster_id"))
      converged = changes == 0
      i += 1
    }
    labels
  }

  /** [[clusterPairs]]' 100 TB formulation: alternating large-star /
    * small-star connected components (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014). Each round
    * rewrites the EDGE SET toward star graphs rooted at component minima:
    *
    *  - large-star: per node u with symmetric neighborhood N(u), connect
    *    every strictly larger neighbor to m = min(N(u) ∪ {u});
    *  - small-star: on the large→small orientation, connect every
    *    neighbor (and u itself) to m.
    *
    * Unlike label propagation — whose per-round state is nodes × labels
    * JOINED against the static edge set every iteration — the star
    * rounds shrink the edge set itself (edges attach to ever-smaller
    * minima), so round state is bounded by the current edge count and
    * drops geometrically; convergence is O(log²) rounds vs graph
    * diameter. Same lineage-truncation discipline (localCheckpoint per
    * round, one driver-side fixpoint count). Output schema matches
    * [[clusterPairs]]; q114 reuses q50's oracle VERBATIM so the
    * equivalence is driver-checked, not just spec-checked. */
  def clusterPairsStar(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    // large→small orientation DIRECTLY (greatest/least per input pair ==
    // the old symmetrize-then-filter(u > v), row for row): ONE distinct
    // over |pairs| rows instead of over the 2×|pairs| symmetric set, and
    // — the r12 job-ledger finding — the pair plan upstream materializes
    // ONCE (the old `nodes` ran the whole un-checkpointed pair machinery
    // a second time; now nodes derive from the checkpointed edge set).
    // Invariant u > v is restored every round.
    // EAGER stays (r13 A/B): a lazy checkpoint here measured 1.06× WORSE
    // on the family — round 1 reads `edges` from four stage branches
    // (adj's union + the afterLarge join), and un-cached partitions race
    // to recompute the pair-machinery tail before the cache fills; the
    // one dedicated job is cheaper than that transient double-compute
    var edges = pairs
      .select(greatest(col("id_1"), col("id_2")).as("u"),
        least(col("id_1"), col("id_2")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    // endpoints of the oriented edge set == endpoints of the symmetric
    // set; lazy — its one consumer is the final labels join below
    val nodes = edges.select(col("u").as("id"))
      .union(edges.select(col("v").as("id"))).distinct()
    // per-round stats for the CHEAP convergence pre-check: (count, hash
    // checksum). Equal stats are necessary for a fixed edge set; the
    // exact exceptAll confirmation runs only when they match, so the
    // expensive probe is paid once at the end, not every round.
    def statsOf(df: DataFrame): (Long, Long) = {
      // XOR fold: order-independent and overflow-free under ANSI mode
      val r = df.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).first()
      (r.getLong(0), r.getLong(1))
    }
    var prevStats = (-1L, -1L) // sentinel: never matches round 1
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // LARGE-STAR over the symmetric adjacency; one lineage-truncating
      // checkpoint per ROUND (afterSmall) — within the round Spark's
      // exchange reuse covers the shared scans
      val adj = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = adj.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // NO distinct here (r12): duplicate (u, v) rows cost nothing —
      // mins2's partial (map-side) min collapses them before its
      // exchange, and afterSmall's distinct is the round's dedup point —
      // while the distinct was a full extra exchange every round
      val afterLarge = adj.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
      // SMALL-STAR on the large→small edges
      val mins2 = afterLarge.groupBy(col("u")).agg(min(col("v")).as("m"))
      val joined = afterLarge.join(mins2, Seq("u"))
      // LAZY checkpoint: the statsOf action right below is the round's
      // one materialization — it computes AND persists the truncated
      // RDD in a single job (the eager form paid a dedicated
      // checkpoint job plus the stats job every round).
      // INVARIANT: that next action must be a FULL scan of the frame
      // (statsOf's agg is); a partial probe (isEmpty/limit) would leave
      // partitions un-materialized and recompute nondeterministic
      // lineage on the next consumer
      val afterSmall = joined.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(mins2.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
        .localCheckpoint(false)
      val st = statsOf(afterSmall)
      if (st == prevStats) {
        // cheap stats agree — confirm EXACTLY before declaring fixpoint.
        // Both sides are distinct sets with equal counts, so ONE empty
        // directed difference proves set equality.
        converged = afterSmall.exceptAll(edges).limit(1).count() == 0
      }
      prevStats = st
      edges = afterSmall
      i += 1
    }
    // one row per node even on maxIter exhaustion (a not-yet-star edge
    // set could hold two minima for one node — fail SAFE to the smaller)
    nodes
      .join(edges.select(col("u").as("id"), col("v").as("cluster_id")),
        Seq("id"), "left")
      .groupBy(col("id"))
      .agg(min(coalesce(col("cluster_id"), col("id"))).as("cluster_id"))
  }

  /** Cluster key per document: the near-dup component id (from
    * [[clusterPairsStar]]) for clustered docs, the doc's own id for
    * singletons — the shared labeling step of [[softDedupWeights]] and
    * [[Sampling.leakageSafeSplit]]. Internal join columns are renamed, so
    * a `cluster_id` column already on `docs` survives untouched.
    * Output: `docs`' columns + `cluster_key`. */
  def clusterKeys(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val labels = clusterPairsStar(pairs)
      .select(col("id").as(idCol), col("cluster_id").as("__ck_label"))
    docs.join(labels, Seq(idCol), "left")
      .withColumn("cluster_key", coalesce(col("__ck_label"), col(idCol)))
      .drop("__ck_label")
  }

  /** Near-dup canonical selection — the HARD-removal enforcement step
    * ([[softDedupWeights]] is its keep-but-downweight alternative): one
    * kept document per near-dup component, the member with the highest
    * `scoreCol` (ties to the lowest id) — [[exactKeepBest]]'s policy
    * lifted from identical-text groups to near-duplicate components.
    * Output: `cluster_key` + `kept_id` + `kept_score` + `n_members`
    * (singletons keep themselves with n_members = 1).
    *
    * 100 TB shape: [[clusterPairsStar]] components + ONE agg keyed by
    * `cluster_key`; the argmax rides the agg as `min(struct(-score, id))`
    * — no window, no second pass. A NULL score ranks LAST (Spark's
    * struct-min orders NULL fields first ascending, so a raw `-score`
    * would let a null-score member beat every real score): the sort key
    * coalesces to +∞ and the kept score is carried verbatim as a third
    * struct field, so an all-null cluster still reports `kept_score`
    * NULL rather than a sentinel. */
  def nearDupKeepBest(docs: DataFrame, idCol: String, pairs: DataFrame,
      scoreCol: String): DataFrame =
    clusterKeys(docs.select(col(idCol), col(scoreCol)), idCol, pairs)
      .groupBy(col("cluster_key"))
      .agg(count(lit(1)).as("n_members"),
        min(struct(
          coalesce(-col(scoreCol), lit(Double.PositiveInfinity)).as("ns"),
          col(idCol).as("id"), col(scoreCol).as("sc"))).as("__best"))
      .select(col("cluster_key"), col("__best.id").as("kept_id"),
        col("__best.sc").as("kept_score"), col("n_members"))

  /** Soft dedup: keep every near-duplicate but DOWNWEIGHT it by its
    * cluster size, so each near-dup component contributes ~one document
    * of training mass (`weight_ppm = 1e6 div cluster_size`; singletons
    * keep 1e6). The sampling-weight alternative to hard removal — hard
    * dedup deletes information a high-quality duplicate may carry, while
    * no dedup lets a 10k-copy boilerplate blob dominate the mixture;
    * weights feed [[Sampling.weightedSample]] or an epoch-sampling loss
    * directly. Output: idCol + `cluster_key` (component id; own id for
    * singletons) + `cluster_size` + `weight_ppm`.
    *
    * 100 TB shape: components from [[clusterPairsStar]] (edge-bounded
    * rounds), then the size agg and its join back are two shuffles keyed
    * by `cluster_key` — never a pair-set or corpus-squared stage. The
    * integral division keeps weights engine-exact (FP 1/size is not). */
  def softDedupWeights(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    // materialized once: the frame feeds BOTH the size agg and the join
    // back — un-checkpointed, the docs⋈labels tail evaluated twice
    val keyed = clusterKeys(docs.select(col(idCol)), idCol, pairs)
      .localCheckpoint(true)
    val sizes = keyed.groupBy(col("cluster_key"))
      .agg(count(lit(1)).as("cluster_size"))
    keyed.join(sizes, Seq("cluster_key"))
      .select(col(idCol), col("cluster_key"), col("cluster_size"),
        graft.functions.Predicates.idiv(lit(1000000L), col("cluster_size"))
          .as("weight_ppm"))
  }

  /** Per-doc 32-bit SimHash fingerprints. Exact-duplicate clusters share a
    * fingerprint; near-dup detection joins on fingerprint bands. */
  def simhashDocs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), simhash32Fused(col(textCol)).as("simhash"))

  /** Per-doc 64-bit SimHash fingerprints — the scale-path sibling of
    * [[simhashDocs]] (same token pipeline, full 64-bit md5-prefix votes).
    * Bit 63 makes the value signed; consumers mask. */
  def simhashDocs64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), simhash64Fused(col(textCol)).as("simhash"))

  /** SimHash near-dup pairs via banded hamming probes: the 32-bit
    * fingerprint splits into `bands` equal bit-bands; docs sharing ANY
    * band bucket become candidates, verified with an exact popcount-XOR
    * hamming distance. By pigeonhole, recall is EXACT (100%) for pairs with
    * hamming <= bands-1 when maxHamming <= bands-1 — at most bands-1 bits
    * differ, so at least one band is untouched. One shuffle on (band, sig)
    * buckets, no O(n²) stage per bucket — but the 32-bit fingerprint PINS
    * per-band signature space at 2^(32/bands) (256 at the default 4
    * bands), so bucket population grows ∝n once the corpus outruns
    * ~targetBucket·2^(32/bands) docs: quadratic by contract. Past that
    * point use [[simhashNearDupPairs64]] — same recall contract, 2^16
    * signatures per band at bands=4.
    */
  def simhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, maxHamming: Int = 3, maxBucketSize: Int = 10000
  ): DataFrame = {
    require(32 % bands == 0, "bands must divide 32")
    bandedHammingPairs(simhashDocs(df, idCol, textCol)
        .select(col(idCol).as("id"), col("simhash")),
      32 / bands, bands, maxHamming, maxBucketSize)
  }

  /** 64-bit SimHash near-dup pairs — the scale path the 32-bit form
    * documents ([[simhashNearDupPairs]], docs/SCALE.md): identical banded
    * machinery and the identical pigeonhole contract (recall EXACT for
    * pairs with hamming ≤ bands−1), but per-band signatures are
    * 64/bands bits wide, so at the default geometry (4 bands × 16 bits,
    * hamming ≤ 3) buckets only saturate at ~targetBucket·2^16 ≈ 16M docs
    * — 256× past the 32-bit onset. [[simhash64BandsFor]] states the
    * geometry rule; above the 16-band signature-space ceiling the right
    * lever is lowering `maxHamming` (fewer, wider bands), not more bands.
    */
  def simhashNearDupPairs64(
      df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, maxHamming: Int = 3, maxBucketSize: Int = 10000
  ): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    bandedHammingPairs(simhashDocs64(df, idCol, textCol)
        .select(col(idCol).as("id"), col("simhash")),
      64 / bands, bands, maxHamming, maxBucketSize)
  }

  /** Geometry rule for [[simhashNearDupPairs64]]: the FEWEST bands that
    * keep the pigeonhole contract (bands ≥ maxHamming+1, rounded up to a
    * divisor of 64) — fewer bands mean wider signatures, so this is also
    * the bucket-population optimum; extra bands only add candidate-join
    * cost. The quadratic onset for the chosen geometry sits at
    * ~targetBucket·2^(64/bands) docs (the analogue of
    * [[graft.operators.Similarity.autoBitsPerBand]]'s bucket sizing):
    * 4 bands → ~16M, 2 bands (hamming ≤ 1) → ~10¹² . */
  def simhash64BandsFor(maxHamming: Int): Int = {
    require(maxHamming >= 0 && maxHamming < 16,
      "pigeonhole needs bands > maxHamming and bands | 64 with >= 4 bits")
    Seq(1, 2, 4, 8, 16).find(_ >= maxHamming + 1).get
  }

  /** Generic banded-hamming near-dup pairs over ANY precomputed 64-bit
    * fingerprint column — the entry point that lets non-text
    * fingerprints (perceptual image hashes from [[ImageHash]], audio
    * envelope prints) ride the exact SimHash machinery: pigeonhole
    * banding (`bands` must divide 64 and exceed `maxHamming` —
    * [[simhash64BandsFor]] gives the optimum), one (band, sig) shuffle,
    * popcount-XOR verify. Emits (id_1, id_2, hamming). */
  def hammingNearDupPairs(
      df: DataFrame, idCol: String, hashCol: String,
      bands: Int = 4, maxHamming: Int = 3, maxBucketSize: Int = 10000
  ): DataFrame = {
    require(64 % bands == 0 && bands > maxHamming,
      "pigeonhole needs bands | 64 and bands > maxHamming")
    bandedHammingPairs(
      df.select(col(idCol).as("id"), col(hashCol).cast("long")
        .as("simhash")),
      64 / bands, bands, maxHamming, maxBucketSize)
  }

  /** Multi-key banded-hamming pairs in ONE pass — the fused form of
    * `union`-ing one [[hammingNearDupPairs]] per fingerprint column
    * (r12: the dual-key multimodal admission ran the whole
    * explode→shed→bucket→pair pipeline twice per refresh). Each key
    * brings its own (bands, maxHamming) geometry; the key ordinal rides
    * the bucket key, so buckets, the over-cap shed, and the pigeonhole
    * radius are all evaluated PER KEY exactly as the separate pipelines
    * did, while the exchange/collect_list/pair machinery is shared.
    * Result-identical to
    * `keys.map(hammingNearDupPairs(...)).reduce(union).distinct()`
    * (DedupSpec pins it). Emits distinct (id_1, id_2, hamming). */
  private[graft] def fusedHammingNearDupPairs(
      df: DataFrame, idCol: String,
      keys: Seq[(String, Int, Int)], // (hashCol, bands, maxHamming)
      maxBucketSize: Int = 10000): DataFrame = {
    val entries = fusedBandEntries(keys)
    val banded = df
      .select(col(idCol).as("id"), explode(array(entries: _*)).as("e"))
      .select(col("id"), col("e.ht").as("ht"), col("e.band").as("band"),
        col("e.sig").as("sig"), col("e.hash").as("hash"))
    val buckets = shedOvercapBuckets(banded,
        Seq("ht", "band", "sig"), 2L, maxBucketSize.toLong)
      .groupBy(col("ht"), col("band"), col("sig"))
      .agg(collect_list(struct(col("id"), col("hash"))).as("ds"))
    val radii = array(keys.map(k => lit(k._3)): _*)
    buckets
      .select(col("ht"), explode(col("ds")).as("d1"), col("ds"))
      .select(col("ht"), col("d1.id").as("id_1"),
        col("d1.hash").as("h1"), explode(col("ds")).as("d2"))
      .filter(col("id_1") < col("d2.id"))
      .select(col("ht"), col("id_1"), col("d2.id").as("id_2"),
        col("h1"), col("d2.hash").as("h2"))
      .distinct()
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .filter(col("hamming") <= element_at(radii, col("ht") + 1))
      .select(col("id_1"), col("id_2"), col("hamming"))
      .distinct()
  }

  /** Shared struct builder of the fused multi-key banding: one
    * (ht, band, sig, hash) struct per key per band. The bucket keys of
    * [[fusedHammingNearDupPairs]] and [[fusedBandRows]] are bit-identical
    * BECAUSE they are built here, once — the streaming probe's soundness
    * rests on that. */
  private def fusedBandEntries(
      keys: Seq[(String, Int, Int)]): Seq[org.apache.spark.sql.Column] = {
    require(keys.nonEmpty, "need at least one fingerprint key")
    keys.foreach { case (_, bands, maxHamming) =>
      require(64 % bands == 0 && bands > maxHamming,
        "pigeonhole needs bands | 64 and bands > maxHamming") }
    keys.zipWithIndex.flatMap { case ((hc, bands, _), ht) =>
      val bpb = 64 / bands
      val mask = if (bpb == 64) -1L else (1L << bpb) - 1
      (0 until bands).map { b =>
        struct(lit(ht).as("ht"), lit(b).as("band"),
          shiftrightunsigned(col(hc).cast("long"), b * bpb)
            .bitwiseAND(lit(mask)).as("sig"),
          col(hc).cast("long").as("hash"))
      }
    }
  }

  /** One (ht, band, sig, id, hash) row per key per band per item — the
    * multi-key fused sibling of [[hammingIndex]] (plus `carryCols`
    * passed through untouched). The streaming assembly derives these
    * rows from its staged metadata to probe whether a batch changes the
    * near-dup pair set ([[fusedBatchPairDelta]]) without re-running the
    * admission over the accumulated corpus — the banding is a handful
    * of shift/mask ops per row, so re-deriving beats persisting a
    * bands×-larger index artifact. */
  private[graft] def fusedBandRows(df: DataFrame, idCol: String,
      keys: Seq[(String, Int, Int)],
      carryCols: Seq[String] = Nil): DataFrame =
    df.select((col(idCol).as("id") +: carryCols.map(col)) :+
        explode(array(fusedBandEntries(keys): _*)).as("e"): _*)
      .select((Seq(col("e.ht").as("ht"), col("e.band").as("band"),
        col("e.sig").as("sig"), col("id"), col("e.hash").as("hash")) ++
        carryCols.map(col)): _*)

  /** Does a new batch CHANGE the fused near-dup pair set over the
    * accumulated corpus? `idx` is the [[fusedBandRows]] union of
    * everything staged INCLUDING the batch, with a boolean `is_batch`
    * column marking the batch's rows. Detects, without running the full
    * admission ([[fusedHammingNearDupPairs]]):
    *
    *  - a SHED FLIP — a bucket whose prior population was pair-eligible
    *    (within [2, maxBucketSize]) pushed OVER the cap by batch rows:
    *    the prior pairs of that bucket disappear from a recompute, so
    *    the pair set changed even though the batch added no pair;
    *  - a VERIFIED NEW PAIR — in a bucket still within the cap, a batch
    *    member within its key's hamming radius of another member
    *    (old or batch).
    *
    * If neither exists, the fused pair set over corpus ∪ batch EQUALS
    * the pair set over the corpus alone: buckets without batch rows are
    * untouched; already-shed buckets only grow and stay shed; in-cap
    * buckets keep their old pairs, and every candidate pair touching a
    * batch row was verified out by the radius check. Cost: ONE action —
    * a count aggregate over the index (partial-aggregated, mega-buckets
    * cost count rows; the identical stats subtree under both union
    * branches is deduplicated by exchange reuse) plus pair verification
    * confined to buckets holding a batch row — O(batch-adjacent), never
    * O(corpus²). */
  private[graft] def fusedBatchPairDelta(idx: DataFrame,
      keys: Seq[(String, Int, Int)],
      maxBucketSize: Int = 10000): Boolean = {
    val cap = maxBucketSize.toLong
    // tiny by construction: only buckets holding a batch row survive
    val stats = idx.groupBy(col("ht"), col("band"), col("sig"))
      .agg(count(lit(1)).as("n"),
        count(when(col("is_batch"), lit(1))).as("nb"))
      .filter(col("nb") >= 1)
    val flips = stats
      .filter(col("n") > cap &&
        col("n") - col("nb") >= 2 && col("n") - col("nb") <= cap)
      .select(lit(1).as("__hit"))
    val cand = stats.filter(col("n") >= 2 && col("n") <= cap)
      .select(col("ht"), col("band"), col("sig"))
    val radii = array(keys.map(k => lit(k._3)): _*)
    // collect_list is safe: cand keeps only buckets within the cap
    val pairHits = idx.join(cand, Seq("ht", "band", "sig"))
      .groupBy(col("ht"), col("band"), col("sig"))
      .agg(collect_list(struct(col("id"), col("hash"), col("is_batch")))
        .as("ds"))
      .select(col("ht"), explode(col("ds")).as("a"), col("ds"))
      .filter(col("a.is_batch"))
      .select(col("ht"), col("a.id").as("id_a"), col("a.hash").as("h_a"),
        explode(col("ds")).as("b"))
      .filter(col("id_a") =!= col("b.id") &&
        bit_count(col("h_a").bitwiseXOR(col("b.hash")))
          <= element_at(radii, col("ht") + 1))
      .select(lit(1).as("__hit"))
    // AQE off for THIS 0/1-row decision action only: its aggregates are
    // batch-adjacent-tiny at any corpus size, and AQE's per-exchange
    // stage-jobs (4-5 of them) are pure fixed cost on a query whose
    // whole output is one boolean — one job instead of five, per batch
    val spark = idx.sparkSession
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try !flips.unionByName(pairHits).isEmpty
    finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  /** The hamming-fingerprint index ARTIFACT: one (band, sig, id, hash)
    * row per band per item — the persisted form a continuous-admission
    * deployment writes ONCE (partitionable by (band, sig)) so that each
    * arriving batch probes band keys instead of re-scanning payloads.
    * The image/audio analogue of [[lshIndex]]. */
  def hammingIndex(df: DataFrame, idCol: String, hashCol: String,
      bands: Int = 4): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    hammingBandRows(df.select(col(idCol).as("id"),
      col(hashCol).cast("long").as("hash")), bands)
  }

  /** Continuous-admission near-dup gate over a persisted
    * [[hammingIndex]]: the new batch's band rows join the index's
    * (band, sig) buckets — batch-only banding work, no payload
    * re-decode, no index re-hash — then exact popcount verify. Emits
    * (id_batch, id_index, hamming). Split-equals-whole is exact (a pair
    * collides iff SOME band matches, which is invariant to which side
    * holds each item — spec-pinned), so admission order never changes
    * the pair set. */
  def incrementalHammingMatches(index: DataFrame, batch: DataFrame,
      idCol: String, hashCol: String, bands: Int = 4, maxHamming: Int = 3,
      maxBucketSize: Int = 10000): DataFrame = {
    require(64 % bands == 0 && bands > maxHamming,
      "pigeonhole needs bands | 64 and bands > maxHamming")
    val idxBuckets = shedOvercapBuckets(index,
        Seq("band", "sig"), 1L, maxBucketSize.toLong)
      .groupBy(col("band"), col("sig"))
      .agg(collect_list(struct(col("id"), col("hash"))).as("ds"))
    hammingBandRows(batch.select(col(idCol).as("id"),
        col(hashCol).cast("long").as("hash")), bands)
      .join(idxBuckets, Seq("band", "sig"))
      .select(col("id").as("id_batch"), col("hash").as("h_batch"),
        explode(col("ds")).as("d"))
      .select(col("id_batch"), col("h_batch"),
        col("d.id").as("id_index"), col("d.hash").as("h_index"))
      .filter(col("id_batch") =!= col("id_index"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("h_batch").bitwiseXOR(col("h_index"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_batch"), col("id_index"), col("hamming"))
  }

  /** Count-first bucket shed shared by every banded family: aggregate
    * `count(*)` per bucket key (partial-aggregatable — a mega-bucket
    * contributes ONE count row per map partition, never its members),
    * keep keys whose population lies in [minSize, maxSize], and
    * semi-join the banded rows back. The subsequent `collect_list`
    * groupBy therefore only ever buffers buckets already known to be
    * within bounds — a degenerate signature (blank image, empty doc,
    * boilerplate page) holding 10⁹ members costs a handful of count
    * rows instead of a single-task OOM. Result-identical to filtering
    * on `size(collect_list)` after the fact (same surviving bucket
    * set); the count shuffle is tiny and the semi-join + final groupBy
    * share one hash partitioning on the bucket keys. */
  private def shedOvercapBuckets(banded: DataFrame, keys: Seq[String],
      minSize: Long, maxSize: Long): DataFrame = {
    val kept = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__bucket_n"))
      .filter(col("__bucket_n").between(minSize, maxSize))
      .select(keys.map(col): _*)
    banded.join(kept, keys, "left_semi")
  }

  /** Audit surface for the hamming family's `maxBucketSize` shed — the
    * [[incrementalLshBucketSizes]] twin for
    * [[hammingNearDupPairs]]/[[incrementalHammingMatches]]: the
    * (band, sig) bucket populations under the SAME banding. Any bucket
    * at or over the cap is a fingerprint whose matches the main pass
    * silently drops (no silent caps: the shed must be visible — run it
    * alongside a media-dedup pass and alert on the over-cap rows). */
  def hammingBucketSizes(df: DataFrame, idCol: String, hashCol: String,
      bands: Int = 4): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    hammingBandRows(df.select(col(idCol).as("id"),
        col(hashCol).cast("long").as("hash")), bands)
      .groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("bucket_size"))
  }

  /** (id, hash) → one (band, sig, id, hash) row per band (logical
    * shifts; bit 63 must not smear). */
  private def hammingBandRows(h: DataFrame, bands: Int): DataFrame = {
    val bitsPerBand = 64 / bands
    val mask = if (bitsPerBand == 64) -1L else (1L << bitsPerBand) - 1
    h.select(col("id"), col("hash"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("hash"), b * bitsPerBand)
            .bitwiseAND(lit(mask)).as("sig"))): _*)).as("bs"))
      .select(col("bs.band"), col("bs.sig"), col("id"), col("hash"))
  }

  /** Shared banded-hamming candidate machinery of the SimHash family:
    * explode each fingerprint into `bands` (band, sig) bucket keys
    * (logical shifts — bit 63 of the 64-bit form must not smear), pair
    * docs within buckets sized [2, maxBucketSize], verify with exact
    * popcount-XOR hamming. ONE shuffle keyed by (band, sig). */
  private def bandedHammingPairs(
      h: DataFrame, bitsPerBand: Int, bands: Int,
      maxHamming: Int, maxBucketSize: Int
  ): DataFrame = {
    val mask = if (bitsPerBand == 64) -1L else (1L << bitsPerBand) - 1
    val banded = h.select(col("id"), col("simhash"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("simhash"), b * bitsPerBand)
            .bitwiseAND(lit(mask)).as("sig"))): _*)).as("bs"))
      .select(col("id"), col("simhash"), col("bs.band"), col("bs.sig"))
    // count-first shed: a constant fingerprint (blank/black images all
    // hashing dHash=0, empty docs) must never concentrate the corpus in
    // one collect_list buffer — exactly the inputs media dedup exists for
    val buckets = shedOvercapBuckets(banded,
        Seq("band", "sig"), 2L, maxBucketSize.toLong)
      .groupBy(col("band"), col("sig"))
      .agg(collect_list(struct(col("id"), col("simhash"))).as("ds"))
    buckets
      .select(explode(col("ds")).as("d1"), col("ds"))
      .select(col("d1.id").as("id_1"), col("d1.simhash").as("h1"),
        explode(col("ds")).as("d2"))
      .filter(col("id_1") < col("d2.id"))
      .select(col("id_1"), col("d2.id").as("id_2"),
        col("h1"), col("d2.simhash").as("h2"))
      .distinct()
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_1"), col("id_2"), col("hamming"))
  }

  /** Embedding-cosine near-duplicate pairs within a blocking key — exact
    * brute force inside each block, with blocks larger than
    * `maxExactBlock` AUTO-ROUTED through within-block SRP-LSH
    * ([[Similarity.rpLshNearDupPairs]] with the block folded into the
    * bucket key). A caller with one hot block no longer pays a silent n²:
    * the exact scan is reserved for blocks where O(block²) is the cheap
    * plan, and the routed blocks get the banded-LSH shape (linear in
    * block size at auto-sized bits; recall 1-(1-p^bits)^bands per pair,
    * concentrated on high-cosine pairs — the ones a near-dup prune
    * exists for). The routing decision is ONE 1-row statistics read of
    * the per-block counts; when no block exceeds the threshold the plan
    * is exactly the historical all-exact one (q30's oracle-pinned form).
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      threshold: Double,
      maxExactBlock: Int = 10000,
      seed: Long = 42L,
      dim: Int = -1,
      maxBucketSize: Int = 10000
  ): DataFrame = {
    // |blocks| rows, materialized ONCE — it feeds the max() routing read
    // and both the small-block and big-block semi-join sides
    val sizes = df.groupBy(col(blockCol)).agg(count(lit(1)).as("__bsz"))
      .localCheckpoint(true)
    // 1-row statistics read (the SkewJoin.autoJoin discipline): route only
    // when some block is actually oversized; empty input → exact path
    val mx = sizes.agg(max(col("__bsz"))).first()
    val maxSz = if (mx.isNullAt(0)) 0L else mx.getLong(0)
    if (maxSz <= maxExactBlock)
      exactBlockPairs(df, idCol, vecCol, blockCol, threshold)
    else {
      val smallBlocks = sizes.filter(col("__bsz") <= maxExactBlock)
        .select(col(blockCol))
      val bigBlocks = sizes.filter(col("__bsz") > maxExactBlock)
        .select(col(blockCol))
      val exact = exactBlockPairs(df.join(smallBlocks, Seq(blockCol)),
        idCol, vecCol, blockCol, threshold)
      // bits sized by the LARGEST block (the within-block corpus the
      // banding has to spread); bands capped so the packed-signature
      // dedup stays in one long
      val bits = Similarity.autoBitsPerBand(maxSz, minBits = 4)
      val bands = math.min(8, 64 / bits)
      val routed = Similarity.rpLshNearDupPairs(
        df.join(bigBlocks, Seq(blockCol)), idCol, vecCol, threshold,
        bands = bands, bitsPerBand = bits, seed = seed,
        maxBucketSize = maxBucketSize, dim = dim,
        blockCol = Some(blockCol))
      exact.unionByName(routed)
    }
  }

  /** Audit surface for [[embeddingNearDupPairs]]'s auto-routing — the
    * "no silent caps" rule applied to the recall switch: one row per
    * block with its size and whether it was routed to within-block
    * SRP-LSH (approximate recall) instead of the exact pair scan. Run it
    * alongside a dedup whose coverage matters: `routed = true` rows name
    * exactly the blocks whose true-pair recall is now the banded-LSH
    * 1-(1-p^bits)^bands curve rather than 1. */
  def embeddingNearDupBlockAudit(
      df: DataFrame, blockCol: String, maxExactBlock: Int = 10000
  ): DataFrame =
    df.groupBy(col(blockCol)).agg(count(lit(1)).as("n_rows"))
      .withColumn("routed", col("n_rows") > maxExactBlock)

  /** The historical exact within-block pair scan (q30's oracle-pinned
    * plan): O(block²) by declaration — the cheap and exact shape when
    * blocks are bounded. */
  private def exactBlockPairs(
      df: DataFrame, idCol: String, vecCol: String, blockCol: String,
      threshold: Double
  ): DataFrame = {
    // normalize each vector ONCE (v / ||v||) so the per-pair work inside the
    // O(block²) join is a single codegen'd dot product — not dot + two norm
    // re-aggregations per candidate pair (3x the array passes, measured 25x
    // wall-clock at sf0.1). The DuckDB oracle normalizes identically, so the
    // elementwise division + sequential dot stay bit-reproducible.
    val vd = transform(col(vecCol), x => x.cast("double"))
    val v = df.select(col(blockCol).as("block"), col(idCol).as("id"),
      Similarity.normalize(vd).as("v"))
    val a = v.select(col("block"), col("id").as("id_1"), col("v").as("v_1"))
    val b = v.select(col("block"), col("id").as("id_2"), col("v").as("v_2"))
    a.join(b, Seq("block"))
      .filter(col("id_1") < col("id_2"))
      .withColumn("cosine", round(Similarity.nanSafe(Similarity.dot(col("v_1"), col("v_2"))), 6))
      .filter(col("cosine") >= threshold)
      .select(col("id_1"), col("id_2"), col("cosine"))
  }

  /** Single-deletion neighborhood of a string (FastSS, k=1): the string
    * itself plus every single-character deletion. Two strings at
    * Levenshtein distance ≤ 1 ALWAYS share a member (delete the differing
    * position from both, or the inserted character) — exact recall, no
    * probability. */
  def deletionVariants(s: Column): Column =
    when(length(s) === 0, array(s)).otherwise(array_distinct(concat(
      array(s),
      transform(sequence(lit(1), length(s)), i =>
        concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s)))))))

  /** Edit-distance-≤1 pairs over DISTINCT strings via deletion-neighborhood
    * blocking (the FastSS shape) — fuzzy matching for near-identical
    * identifiers (patient names/IDs with one-character typos — the
    * reference resolves these manually in its candidate-conflict UI; here
    * it is a query). Returns (s_1, s_2, dist), s_1 < s_2.
    *
    * Shape at 100 TB: explode ≤ len+1 variants per string (narrow rows),
    * ONE shuffle keyed by variant, within-bucket pairs verified with the
    * exact `levenshtein` — sound (every pair verified) AND complete for
    * dist ≤ 1 (pigeonhole above). Bucket sizes are bounded by how many
    * strings share a deletion — for identifier-shaped data that is the
    * alphabet at the deleted position; a degenerate hot variant (all-equal
    * strings) cannot occur because the input is distinct. */
  def editNeighborPairs(df: DataFrame, strCol: String): DataFrame = {
    // join on the 60-bit hash of the variant, not the variant string: the
    // blocking shuffle carries (long, string) instead of two strings, and
    // a hash collision can only ADD candidates — the exact levenshtein
    // verify removes them, so soundness and completeness are unchanged
    // the variant build is scalar-bound (HOF substrings + md5 per char):
    // a sub-split local fixture would otherwise run it on one core (AQE
    // coalesces the tiny distinct output to a single partition). The
    // spread is SIZE-CONDITIONAL (plan statistics, no action) — on a
    // billion-row input the distinct's own exchange already spreads the
    // work and a blanket repartition would just add a full extra shuffle
    // (the round-2/round-3 `spreadIfSmall` invariant)
    val distinctStrs = df.select(col(strCol).as("s")).distinct()
    val spread =
      if (distinctStrs.queryExecution.optimizedPlan.stats.sizeInBytes <
          graft.queries.Tables.OneSplitBytes)
        distinctStrs.repartition(
          df.sparkSession.sparkContext.defaultParallelism)
      else distinctStrs
    val v = spread
      .select(col("s"), explode(deletionVariants(col("s"))).as("variant"))
      .select(col("s"), portableHash60(col("variant")).as("vh"))
    val a = v.select(col("vh"), col("s").as("s_1"))
    val b = v.select(col("vh"), col("s").as("s_2"))
    // verify BEFORE the pair-dedup: levenshtein is codegen'd per-row work,
    // while distinct() is a shuffle — filtering candidates (join fan-out)
    // down to true pairs first means the dedup shuffle carries only
    // matches (measured 2.4x on 15k identifier-shaped strings)
    a.join(b, Seq("vh"))
      .filter(col("s_1") < col("s_2"))
      .withColumn("dist", levenshtein(col("s_1"), col("s_2")))
      .filter(col("dist") <= 1)
      .select(col("s_1"), col("s_2"), col("dist"))
      .distinct()
  }
}
