package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Materialize

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    Queries are broadcast; the corpus side streams partition-parallel, so
  *    cost is O(|corpus| × |queries|) with no shuffle until the final top-k
  *    window on the (small) query key space.
  *  - [[ivfTopK]]: IVF-style scale path — corpus is bucketed by nearest
  *    centroid once (narrow map after a centroid broadcast), queries probe
  *    only their `nprobe` closest centroid buckets. At 100 TB the bucket
  *    assignment becomes the partitioning/bucketing key, turning ANN search
  *    into a partition-pruned scan.
  *
  * All arithmetic is sequential-order double math on `Column` expressions
  * (`zip_with` + `aggregate`), bit-reproducible across engines that sum
  * left-to-right.
  */
object Similarity {

  /** Dot product of two double arrays (left-to-right summation). Evaluated
    * by the codegen'd allocation-free
    * [[graft.functions.expressions.DotDoubleExpr]]; bit-identical to the
    * interpreted `aggregate(zip_with(a,b,_*_), 0.0, _+_)` form (both sum in
    * index order — SimilaritySpec pins the equivalence). */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.expressions.DotDoubleExpr(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** NaN→null guard for similarity scores: Spark orders NaN GREATER than
    * every double, so one corrupt coordinate (or a zero-norm vector's
    * 0/0) would pass every `cosine >= threshold` gate and rank FIRST
    * under `cosine.desc` — the corrupt vector becomes everyone's nearest
    * neighbor. As null it fails the gates and sorts last instead. */
  def nanSafe(c: Column): Column = when(!isnan(c), c)

  def cosine(a: Column, b: Column): Column = {
    // zero-norm guard: under ANSI mode 0.0/0.0 THROWS (not NaN) — a
    // single zero vector would kill the whole job; null it instead
    val den = norm(a) * norm(b)
    nanSafe(when(den =!= 0.0, dot(a, b) / den))
  }

  /** Unit-normalize a double array (v / ||v||): pay the norm ONCE per vector
    * so downstream pairwise cosine is a single dot product. */
  def normalize(a: Column): Column = {
    val n = norm(a)
    // zero-norm vectors null out whole (ANSI: x/0.0 throws); a null
    // vector then null-propagates through dot → cosine → threshold gates
    when(n =!= 0.0, transform(a, x => x / n))
  }

  private def asDouble(vecCol: Column): Column =
    transform(vecCol, x => x.cast("double"))

  /** Exact top-k cosine neighbors for each query vector.
    * Returns (query_id, neighbor_id, cosine, rank), rank 1..k, excluding
    * self-matches; ties broken by neighbor id. */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("c_vec"))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("q_vec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", round(cosine(col("q_vec"), col("c_vec")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Hard-negative mining for contrastive training data: for every anchor,
    * the top-k most-similar vectors carrying a DIFFERENT label — the
    * "closest wrong answers" a contrastive or reranker objective trains
    * against. Exact scoring (same sequential-order cosine as
    * [[bruteForceTopK]], so it oracle-matches); the k-selection rides the
    * bounded-heap [[graft.plans.TopKPerGroup]] plan, so per-partition state
    * is k rows per anchor rather than a full |anchors|×|corpus| sort.
    *
    * `anchors` is EXPLICIT and must be a bounded set (a labeled seed batch,
    * a sampled anchor pool) — it is broadcast, and the corpus streams
    * partition-parallel against it, so cost is O(|corpus| × |anchors|)
    * with no shuffle until the per-anchor heap merge. To mine negatives
    * for EVERY corpus row, use [[hardNegativesAnn]]: an all-pairs pass
    * with the corpus on the broadcast side is a 100 TB scale-killer
    * (broadcast OOM + O(n²) nested loop), so this method deliberately
    * does not offer it. */
  def hardNegatives(
      corpus: DataFrame, idCol: String, vecCol: String, labelCol: String,
      k: Int, anchors: DataFrame
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__nl"), asDouble(col(vecCol)).as("c_vec"))
    val a = anchors.select(col(idCol).as("query_id"),
      col(labelCol).as("__ql"), asDouble(col(vecCol)).as("q_vec"))
    val scored = c.join(broadcast(a), col("__nl") =!= col("__ql"))
      .withColumn("cosine", round(cosine(col("q_vec"), col("c_vec")), 6))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    ranked(graft.plans.TopKPerGroup(scored, Seq(col("query_id")),
      Seq(col("cosine").desc, col("neighbor_id").asc), k))
  }

  /** Corpus-wide hard-negative mining — every row is its own anchor — via
    * SRP-LSH candidate generation instead of the all-pairs scan: band
    * signatures bucket the corpus ([[rpSignature]], `bands` bands of
    * `bitsPerBand` hyperplane-sign bits), cross-label pairs inside a shared
    * bucket become candidates, candidates are EXACT-verified with the same
    * sequential-order cosine as [[hardNegatives]] (identical rounding →
    * identical values where both find a pair), and k-selection rides the
    * bounded-heap [[graft.plans.TopKPerGroup]].
    *
    * 100 TB shape: no broadcast of anything corpus-sized and no O(n²)
    * stage — the candidate join is equi-keyed on (band, sig) buckets whose
    * size `maxBucketSize` caps, and the verify join is equi-keyed on ids.
    * Recall per neighbor at cosine c is 1-(1-p^bitsPerBand)^bands with
    * p = 1-acos(c)/π; the wide-band default (32×2) holds worst-pair recall
    * >0.9999 down to c≈0.25 — size bitsPerBand UP as the corpus grows so
    * buckets stay ~10³-10⁴ rows (recall is then concentrated on the
    * high-cosine pairs that matter for mining). SimilaritySpec pins
    * candidates ⊇ exact top-k on the test corpus.
    *
    * `dim` is the embedding dimensionality (callers know their model's
    * dim; no data probe). */
  def hardNegativesAnn(
      corpus: DataFrame, idCol: String, vecCol: String, labelCol: String,
      k: Int, dim: Int, bands: Int = 32, bitsPerBand: Int = 2,
      seed: Long = 42L, maxBucketSize: Int = 20000
  ): DataFrame =
    Materialize.scoped { pin =>
      // norm computed ONCE per vector — the per-pair verify is then a
      // single dot product, and dot/(nrm_a·nrm_b) is the identical double
      // the pairwise dot/(√(a·a)·√(b·b)) form yields (same expressions,
      // same order), so rounding matches the exact path bit-for-bit
      val v = pin(corpus.select(col(idCol).as("id"), col(labelCol).as("lbl"),
          asDouble(col(vecCol)).as("v"))
        .withColumn("nrm", norm(col("v"))))
      val scored = annLabelScored(v, pin, sameLabel = false, dim,
        bands, bitsPerBand, seed, maxBucketSize)
      // the (≤ k rows per anchor) result is what the scope materializes
      ranked(graft.plans.TopKPerGroup(scored, Seq(col("query_id")),
        Seq(col("cosine").desc, col("neighbor_id").asc), k))
    }

  /** Rank 1..k per anchor over a heap-pruned top-k frame: the window sees
    * at most k rows per anchor. */
  private def ranked(top: DataFrame): DataFrame =
    top.withColumn("rank",
      row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc)))

  /** The first-collision-band column: given the two rows' PACKED band
    * signatures, the lowest band index where they collide — a pair
    * sharing several buckets is emitted from exactly one. Pure integer
    * codegen (no `.distinct()` re-shuffle of bands-times-duplicated
    * pairs): xor's zero b-bit groups mark collision bands; collapse each
    * group to its low bit, take the lowest zero group via the classic
    * ntz = bit_count(~z & (z-1)) identity. The one-shot, incremental and
    * rpLsh paths all MUST share this expression — the incremental ==
    * one-shot merge invariant depends on it being bit-identical. */
  /** Session-conf switch for the ANN miners' exact-verify placement.
    * "injoin" (default): both bucket-join sides CARRY their vector and the
    * cosine is computed inside the join — shuffled volume is n×bands
    * vector rows, zero pair-keyed exchanges. "fetch": the bucket join
    * carries only (id, lbl, fullsig); vectors ride band-0 rows once and
    * the cosine is computed after two id-keyed joins against the vector
    * frame — shuffled volume is n vectors + 2× the candidate-pair ids.
    * The crossover is geometry- and dim-dependent (in-join pays
    * bands×dim doubles per vector; fetch pays pair-keyed vector
    * traffic): see docs/SCALE.md "miner verify A/B" for the sf1
    * measurements that set the default. */
  val VerifyModeKey = "spark.graft.miner.verify"

  private def fetchVerify(df: DataFrame): Boolean =
    df.sparkSession.conf.get(VerifyModeKey, "injoin") == "fetch"

  /** The "fetch" verify: score narrow candidate pairs by two id-keyed
    * joins against the one-row-per-id vector frame. Emits the pairs'
    * columns + the SAME rounded cosine expression as the in-join path. */
  private def scoreFetched(pairs: DataFrame, vecs: DataFrame): DataFrame = {
    val q = vecs.select(col("id").as("query_id"), col("v").as("__qv"),
      col("nrm").as("__qn"))
    val n = vecs.select(col("id").as("neighbor_id"), col("v").as("__nv"),
      col("nrm").as("__nn"))
    pairs.join(q, Seq("query_id")).join(n, Seq("neighbor_id"))
      .withColumn("cosine", round(
        nanSafe(dot(col("__qv"), col("__nv")) / (col("__qn") * col("__nn"))),
        6))
      .select(pairs.columns.map(col) :+ col("cosine"): _*)
  }

  /** One vector row per id out of a band-signature frame: band-0 rows
    * carry (v, nrm) in BOTH verify modes ([[bandSigFrame]] nulls the
    * vector on bands 1.. under "fetch"). */
  private def vecsFromSigs(s: DataFrame): DataFrame =
    s.filter(col("band") === 0).select(col("id"), col("v"), col("nrm"))

  private[operators] def firstCollisionBand(
      sigA: Column, sigB: Column, bands: Int, bitsPerBand: Int): Column = {
    val groupLowBits = lit((0 until bands)
      .map(b => 1L << (b * bitsPerBand)).reduce(_ | _))
    val xorSig = sigA bitwiseXOR sigB
    val groupNonZero = (0 until bitsPerBand)
      .map(i => shiftrightunsigned(xorSig, i))
      .reduce(_ bitwiseOR _) bitwiseAND groupLowBits
    val zeroGroups = bitwise_not(groupNonZero) bitwiseAND groupLowBits
    (bit_count(bitwise_not(zeroGroups) bitwiseAND (zeroGroups - 1)) /
      bitsPerBand).cast("int")
  }

  /** Banded-LSH scored pairs with a label predicate: (query_id,
    * neighbor_id, cosine) for every cross-label (`sameLabel=false`) or
    * same-label-non-self (`sameLabel=true`) pair sharing at least one
    * (band, sig) bucket, exactly deduplicated locally via the
    * packed-signature [[firstCollisionBand]] rule and exact-verified
    * IN the bucket join. Input `v` is the pinned (id, lbl, v, nrm)
    * frame; the signature frame is pinned to the same scope. */
  private[operators] def annLabelScored(
      v: DataFrame, pin: Materialize.Pin, sameLabel: Boolean, dim: Int,
      bands: Int, bitsPerBand: Int, seed: Long, maxBucketSize: Int
  ): DataFrame =
    annLabelScoredFromSigs(bandSigFrame(v, pin, dim, bands, bitsPerBand,
      seed), sameLabel, bands, bitsPerBand, maxBucketSize)

  /** The pinned (id, lbl, v, nrm, fullsig, band, sig) frame behind
    * [[annLabelScored]] — label-mode-independent, so one frame per
    * (geometry, seed) serves BOTH the same-label and cross-label passes
    * of triplet mining when their geometries coincide. */
  private[operators] def bandSigFrame(
      v: DataFrame, pin: Materialize.Pin, dim: Int, bands: Int,
      bitsPerBand: Int, seed: Long
  ): DataFrame = {
    require(bands * bitsPerBand <= 64,
      "packed-signature dedup needs bands*bitsPerBand <= 64")
    // all band signatures in ONE fused pass over the cached vectors;
    // alongside the exploded (band, sig) bucket key, every row carries the
    // full signature PACKED into one long so pair dedup can be a local
    // integer filter (below)
    val sigArr = rpSignatureBands(col("v"), bands, bitsPerBand, dim, seed)
    val packed = (0 until bands).map(b =>
      shiftleft(element_at(col("sigs"), b + 1), b * bitsPerBand))
      .reduce(_ bitwiseOR _)
    // spread the bucket keys across the cluster: pair generation fans a
    // row out |bucket| times, so the (band, sig) partitioning — not the
    // input file layout — must set the parallelism of everything downstream
    // (broadcast-built joins preserve the probe side's partitioning; without
    // this a single-file corpus runs the whole candidate pipeline in one
    // task). The partition count is EXPLICIT: AQE sizes coalescing by the
    // exchange's bytes, which under-provisions a stage that expands
    // |bucket|× after it. Also pre-aligns the bucket-size groupBy.
    // under "fetch" verify the vector/norm ride ONLY the band-0 row (one
    // per id): the repartition exchange and the cache then hold n vectors
    // instead of n×bands — the whole point of that mode
    val vCol = if (fetchVerify(v)) when(col("band") === 0, col("v"))
      else col("v")
    val nrmCol = if (fetchVerify(v)) when(col("band") === 0, col("nrm"))
      else col("nrm")
    // n×bands rows CARRYING the vector and its norm — the exact verify
    // runs INSIDE the bucket join (see annLabelScoredFromSigs), so the
    // shuffled/cached volume is n×bands vector rows, never candidate
    // pairs × vectors. Pinning holds the (heavy-codegen) signature stage
    // to ONE evaluation — it feeds both the bucket-size agg and the pair
    // join (and, in triplet mining, both label modes)
    pin(v.select(col("id"), col("lbl"), col("v"), col("nrm"),
        sigArr.as("sigs"))
      .select(col("id"), col("lbl"), col("v"), col("nrm"),
        packed.as("fullsig"),
        posexplode(col("sigs")).as(Seq("band", "sig")))
      .select(col("id"), col("lbl"), vCol.as("v"), nrmCol.as("nrm"),
        col("fullsig"), col("band"), col("sig"))
      .repartition(v.sparkSession.sessionState.conf.numShufflePartitions,
        col("band"), col("sig")))
  }

  /** Candidate generation + INLINE exact-cosine verify over a prebuilt
    * [[bandSigFrame]]: the verify happens inside the bucket join (both
    * sides carry their vector), so no id-keyed scoring join ever shuffles
    * candidate-pairs × vectors — the formulation that survives when the
    * vector frame is too big to broadcast (measured 66 s → 3 s on the
    * sf1 incremental path). Emits (query_id, neighbor_id, cosine) with
    * the same dot/(nrm·nrm) rounded double as the exact pairwise form.
    *
    * The bucket join is hinted SHUFFLE_HASH: sort-merge buffers the
    * vector-carrying rows per key group and pays per-PAIR wide-row
    * traffic (53 s vs 15 s measured on the sf1 pos pass); the hash build
    * holds one partition's n×bands/partitions rows — the same
    * partition-fits-memory assumption every hash aggregation in the
    * engine already makes (size shuffle partitions accordingly). */
  private[operators] def annLabelScoredFromSigs(
      s: DataFrame, sameLabel: Boolean, bands: Int, bitsPerBand: Int,
      maxBucketSize: Int
  ): DataFrame = {
    // same-label pairs must agree on lbl anyway, so fold the label into
    // the bucket key: bucket population (and the maxBucketSize cap) is
    // then per LABEL BLOCK, which lets callers size bitsPerBand by the
    // largest label instead of the corpus — the within-block geometry
    // keeps recall high where corpus-sized bits would collapse it. The
    // (band, sig) hash partitioning above still co-locates every
    // (lbl, band, sig) group, so the label-widened join adds no exchange.
    val bucketKey = if (sameLabel) Seq("lbl", "band", "sig")
      else Seq("band", "sig")
    // degenerate-bucket cap: bucket keys whose population exceeds
    // maxBucketSize are excluded from pair generation (boilerplate-heavy
    // signature collisions; size bitsPerBand up instead of paying n² in a
    // hot bucket). The population is a WINDOW count — the frame's
    // (band, sig) hash partitioning co-locates every bucket key, so the
    // annotation is one partition-local sort, not an agg + join-back
    // (which costs extra stages per call at identical semantics).
    val sOk = s.withColumn("__bsz",
        count(lit(1)).over(Window.partitionBy(bucketKey.map(col): _*)))
      .filter(col("__bsz") <= maxBucketSize)
    val joinKey = if (sameLabel) Seq("__lbl", "band", "sig")
      else Seq("band", "sig")
    val fetch = fetchVerify(s)
    val vq = if (fetch) Nil
      else Seq(col("v").as("__qv"), col("nrm").as("__qn"))
    val vn = if (fetch) Nil
      else Seq(col("v").as("__nv"), col("nrm").as("__nn"))
    val a = sOk.select(Seq(col("band"), col("sig"),
      col("id").as("query_id"), col("lbl").as("__ql"),
      col("lbl").as("__lbl"), col("fullsig").as("__qf")) ++ vq: _*)
    val b = sOk.select(Seq(col("band"), col("sig"),
      col("id").as("neighbor_id"), col("lbl").as("__nl"),
      col("lbl").as("__lbl"), col("fullsig").as("__nf")) ++ vn: _*)
    val labelPred =
      if (sameLabel) col("__ql") === col("__nl") &&
        col("query_id") =!= col("neighbor_id")
      else col("__ql") =!= col("__nl")
    val matched = a.hint("SHUFFLE_HASH").join(b, joinKey)
      .filter(labelPred)
      .filter(col("band") ===
        firstCollisionBand(col("__qf"), col("__nf"), bands, bitsPerBand))
    if (fetch)
      scoreFetched(matched.select(col("query_id"), col("neighbor_id")),
        vecsFromSigs(s))
    else matched
      .withColumn("cosine",
        round(nanSafe(dot(col("__qv"), col("__nv")) / (col("__qn") * col("__nn"))), 6))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
  }

  /** Both label modes from ONE bucket join, for the case where the
    * positive geometry equals the negative one (the gate config, and any
    * corpus whose largest label block and total size land in the same
    * [[autoBitsPerBand]] tier): the same-label pairs the positive pass
    * needs are a subset of the pairs the (band, sig)-keyed join already
    * generates for the cross-label pass, so running the SHUFFLE_HASH
    * self-join twice — once keyed (lbl, band, sig), once (band, sig) —
    * doubles the heaviest stage for nothing.
    *
    * Per-mode cap semantics are preserved EXACTLY. A pair is emitted at
    * its global [[firstCollisionBand]] b iff
    *  - neg: the TOTAL population of bucket b is <= maxBucketSize;
    *  - pos: the pair's LABEL BLOCK within bucket b is <= maxBucketSize.
    * Total <= cap implies every label block <= cap, so a join group that
    * is the WHOLE bucket while its total is under the cap serves both
    * modes with no extra filter; a bucket over the total cap degrades to
    * per-LABEL join groups, which generate exactly the same-label pairs
    * the positive pass still owes (cross-label pairs from such buckets
    * are shed in the separate path too) with fan-out bounded by the
    * labeled cap, never the bucket's n². SimilaritySpec pins fused ==
    * separate with a cap small enough to force both regimes — the
    * equivalence is by construction, not just at the gate.
    *
    * `rows` is a (id, lbl, v, nrm, fullsig, band, sig) frame — a
    * [[bandSigFrame]], an [[artSigFrame]], or the incremental union —
    * optionally carrying `__isb` (row comes from the new batch); when
    * `requireBatchSide` is set only pairs with at least one batch side
    * are emitted (the incremental contract: index-index pairs are already
    * in the prior result). Returns ONE tagged scored frame
    * (query_id, neighbor_id, cosine, __same) — a pair is same-label or
    * cross-label, never both, so the tag partitions the output; callers
    * heap by (query_id, __same) so the join executes once for both
    * modes. */
  private def fusedBothModesFromRows(
      rows: DataFrame, bands: Int, bitsPerBand: Int, maxBucketSize: Int,
      requireBatchSide: Boolean,
      // "fetch"-verify vector source. None = the rows' own band-0 rows
      // (valid for whole-corpus signature frames); the INCREMENTAL caller
      // passes the artifact vectors explicitly — its index side is pruned
      // to touched buckets, which can drop an id's band-0 row while other
      // bands still generate pairs.
      fetchVecs: Option[DataFrame] = None
  ): DataFrame = {
    // both cap populations as WINDOW counts: the frame is already hash-
    // partitioned by (band, sig), which co-locates (lbl, band, sig) too,
    // so neither window needs an exchange — one partition-local sort
    // annotates every row with its bucket total and its label-block size.
    // (The agg-then-join-back formulation costs 4+ extra stages per seed;
    // measured slower than the fusion saves at the gate.)
    val wB = Window.partitionBy(col("band"), col("sig"))
    val wL = Window.partitionBy(col("band"), col("sig"), col("lbl"))
    // __grp is the join group: a whole bucket while its TOTAL is under the
    // cap (serves both modes), else one label block (same-label pairs
    // only — the pos cap is per label block, and keying over-cap buckets
    // by label bounds their fan-out by the labeled cap instead of n²).
    // Rows useless to both modes (over-cap bucket AND over-cap label
    // block) drop before the join.
    val annotated = rows
      .withColumn("__bsz", count(lit(1)).over(wB))
      .withColumn("__lsz", count(lit(1)).over(wL))
      .filter(col("__bsz") <= maxBucketSize ||
        col("__lsz") <= maxBucketSize)
      .withColumn("__grp",
        when(col("__bsz") <= maxBucketSize, lit(""))
          .otherwise(concat(lit("L"), col("lbl").cast("string"))))
    val fetch = fetchVerify(rows)
    val isb = (suffix: String) =>
      if (requireBatchSide) Seq(col("__isb").as(s"__$suffix")) else Nil
    val vq = if (fetch) Nil
      else Seq(col("v").as("__qv"), col("nrm").as("__qn"))
    val vn = if (fetch) Nil
      else Seq(col("v").as("__nv"), col("nrm").as("__nn"))
    val a = annotated.select(Seq(col("__grp"), col("band"), col("sig"),
      col("lbl").as("__ql"), col("id").as("query_id"),
      col("fullsig").as("__qf")) ++ vq ++ isb("ab"): _*)
    val b = annotated.select(Seq(col("__grp"), col("band"), col("sig"),
      col("lbl").as("__nl"), col("id").as("neighbor_id"),
      col("fullsig").as("__nf")) ++ vn ++ isb("nb"): _*)
    // (band, sig) hash partitioning satisfies the (grp, band, sig) join's
    // clustering requirement (subset rule), so the ONE bucket join still
    // runs exchange-free over the cached signature frame
    val pairs0 = a.hint("SHUFFLE_HASH").join(b, Seq("__grp", "band", "sig"))
    val pairs = if (requireBatchSide)
      pairs0.filter(col("__ab") || col("__nb")) else pairs0
    val matched = pairs
      // keep cross-label pairs and NON-SELF same-label pairs
      .filter(col("__ql") =!= col("__nl") ||
        col("query_id") =!= col("neighbor_id"))
      .filter(col("band") ===
        firstCollisionBand(col("__qf"), col("__nf"), bands, bitsPerBand))
      .withColumn("__same", col("__ql") === col("__nl"))
    if (fetch)
      scoreFetched(matched.select(col("query_id"), col("neighbor_id"),
          col("__same")), fetchVecs.getOrElse(vecsFromSigs(rows)))
        .select(col("query_id"), col("neighbor_id"), col("cosine"),
          col("__same"))
    else matched
      // the SAME dot/(nrm·nrm) rounded double as the separate paths — the
      // fused form must stay bit-identical to the one-shot and exact forms
      .withColumn("cosine",
        round(nanSafe(dot(col("__qv"), col("__nv")) / (col("__qn") * col("__nn"))), 6))
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("__same"))
  }

  /** One-shot fused twin of two [[annLabelScoredFromSigs]] calls over the
    * same signature frame — ONE tagged scored frame from one bucket
    * join. */
  private[operators] def annLabelScoredBothFromSigs(
      s: DataFrame, bands: Int, bitsPerBand: Int, maxBucketSize: Int
  ): DataFrame =
    fusedBothModesFromRows(s, bands, bitsPerBand, maxBucketSize,
      requireBatchSide = false)

  /** Incremental fused twin of two [[annIncrementalScored]] calls over the
    * same (index artifact, batch artifact) pair: the batch-involved tagged
    * scored frame, its batch band rows pinned to the caller's scope. The
    * index side is pruned to the (band, sig) buckets the batch
    * touches — a superset of the labeled touched set the
    * separate positive pass prunes to, and the extra rows provably change
    * neither mode's pair set (a pos pair needs a batch side of its own
    * label in the bucket, which makes its labeled bucket touched). */
  private[operators] def annIncrementalScoredBoth(
      indexArt: DataFrame, batchArt: DataFrame, pin: Materialize.Pin,
      bands: Int, bitsPerBand: Int, maxBucketSize: Int
  ): DataFrame = {
    val spark = batchArt.sparkSession
    val fetch = fetchVerify(batchArt)
    // under "fetch" verify the band rows are NARROW (no vector at all —
    // the artifacts themselves are the vector source, so not even the
    // band-0 carry is needed)
    def vBandRows(art: DataFrame): DataFrame =
      if (fetch)
        art.select(col("id"), col("lbl"), col("fullsig"),
          lit(null).cast("array<double>").as("v"),
          lit(null).cast("double").as("nrm"),
          posexplode(col("sigs")).as(Seq("band", "sig")))
      else
        art.select(col("id"), col("lbl"), col("fullsig"), col("v"),
          col("nrm"), posexplode(col("sigs")).as(Seq("band", "sig")))
    val bRows = pin(vBandRows(batchArt)
      .repartition(spark.sessionState.conf.numShufflePartitions,
        col("band"), col("sig")))
    val touched = bRows.select(col("band"), col("sig")).distinct()
    val iRows = vBandRows(indexArt)
      .join(touched, Seq("band", "sig"), "left_semi")
    val allRows = iRows.withColumn("__isb", lit(false))
      .unionByName(bRows.withColumn("__isb", lit(true)))
    val vecs =
      if (fetch) Some(indexArt.select(col("id"), col("v"), col("nrm"))
        .unionByName(batchArt.select(col("id"), col("v"), col("nrm"))))
      else None
    fusedBothModesFromRows(allRows, bands, bitsPerBand,
      maxBucketSize, requireBatchSide = true, fetchVecs = vecs)
  }

  /** Contrastive TRIPLET assembly: for every anchor, its hardest positive
    * (most-similar SAME-label vector, self excluded) and hardest negative
    * (most-similar DIFFERENT-label vector) with the margin between them —
    * the (anchor, positive, negative) dataset a triplet/InfoNCE objective
    * trains on, built entirely from the banded-LSH candidate machinery
    * (no corpus broadcast, no O(n²) stage).
    *
    * Same-label nearest neighbors sit at LOWER cosines than cross-label
    * top-k on mixed corpora, so candidates come from the UNION of
    * `seeds.size` independent bandings — per-pair miss probability is the
    * single-banding miss raised to that power ((1.4e-5)² at the tested
    * corpus's worst pair UNDER THE 32×2 GEOMETRY) — and the distinct
    * bounded heap dedups the cross-seed duplicates for free (identical
    * (cosine, id) sort keys). Anchors lacking either side (singleton
    * labels) drop out.
    *
    * Recall caveat at corpus-scaled bits: the miss² arithmetic is a
    * function of (bands, bitsPerBand) — at e.g. 7 bands × 9 bits a
    * low-cosine hardest positive's single-banding recall drops to ~0.2
    * and two seeds only recover ~0.36. Because the same-label pass
    * buckets on (label, band, sig), its geometry only has to cover the
    * LARGEST LABEL BLOCK, never the corpus: pass `posBands`/
    * `posBitsPerBand` sized by `autoBitsPerBand(maxLabelRows)` (0 = reuse
    * the negative-pass values) and hardest-positive recall stays in the
    * wide-band regime no matter how large the corpus grows. */
  def tripletMining(
      corpus: DataFrame, idCol: String, vecCol: String, labelCol: String,
      dim: Int, bands: Int = 32, bitsPerBand: Int = 2,
      seeds: Seq[Long] = Seq(42L, 1042L), maxBucketSize: Int = 20000,
      posBands: Int = 0, posBitsPerBand: Int = 0
  ): DataFrame = {
    val (pos, neg) = tripletMiningSides(corpus, idCol, vecCol, labelCol,
      dim, bands, bitsPerBand, seeds, maxBucketSize, posBands,
      posBitsPerBand)
    assembleTriplets(pos, neg)
  }

  /** The TAGGED top-1 side plan behind triplet mining over a pinned
    * (id, lbl, v, nrm) frame: one row per (anchor, side) — `__same` true
    * for the hardest positive, false for the hardest negative — with its
    * band-signature frames pinned to the same scope. ONE distinct bounded
    * heap keyed (query_id, __same) serves both sides: grouping by the tag is
    * exactly a per-side heap, and feeding both modes through a single
    * consumer is what lets the fused bucket join below execute ONCE
    * (split-then-heap would duplicate the join subtree into each side's
    * plan). A signature frame depends only on (geometry, seed) — NOT on
    * the label mode — so when the positive geometry coincides with the
    * negative one (the gate config) both modes share ONE frame per seed
    * AND one bucket join per seed (see [[fusedBothModesFromRows]]);
    * differing geometries fall back to per-mode joins, still heaped
    * together. */
  private def tripletSidePlans(
      v: DataFrame, pin: Materialize.Pin, dim: Int, bands: Int,
      bitsPerBand: Int, seeds: Seq[Long], maxBucketSize: Int,
      posBands: Int, posBitsPerBand: Int
  ): DataFrame = {
    val (pBnd, pBits) = (if (posBands > 0) posBands else bands,
      if (posBitsPerBand > 0) posBitsPerBand else bitsPerBand)
    val sigCache =
      scala.collection.mutable.Map.empty[(Int, Int, Long), DataFrame]
    def sigs(bnd: Int, bits: Int, sd: Long): DataFrame =
      sigCache.getOrElseUpdate((bnd, bits, sd),
        bandSigFrame(v, pin, dim, bnd, bits, sd))
    val tagged =
      if (pBnd == bands && pBits == bitsPerBand)
        seeds.map(sd => annLabelScoredBothFromSigs(
            sigs(bands, bitsPerBand, sd), bands, bitsPerBand, maxBucketSize))
          .reduce(_ unionByName _)
      else
        Seq(true, false).map { sameLabel =>
          val (bnd, bits) = if (sameLabel) (pBnd, pBits)
            else (bands, bitsPerBand)
          seeds.map(sd => annLabelScoredFromSigs(
              sigs(bnd, bits, sd), sameLabel, bnd, bits, maxBucketSize))
            .reduce(_ unionByName _)
            .withColumn("__same", lit(sameLabel))
        }.reduce(_ unionByName _)
    taggedHeap1(tagged)
  }

  /** The distinct bounded heap over a tagged scored frame: top-1 per
    * (anchor, side), cross-seed duplicate pairs eliminated by their equal
    * (cosine, neighbor_id) sort keys. */
  private def taggedHeap1(tagged: DataFrame): DataFrame =
    graft.plans.TopKPerGroup.distinct(tagged,
      Seq(col("query_id"), col("__same")),
      Seq(col("cosine").desc, col("neighbor_id").asc), 1)

  /** Split a MATERIALIZED tagged side frame into (positives, negatives).
    * The input must be checkpointed/persisted — the two filters otherwise
    * re-execute the whole mining subtree once per side. */
  private def splitTagged(both: DataFrame): (DataFrame, DataFrame) =
    (both.filter(col("__same")).drop("__same"),
      both.filter(!col("__same")).drop("__same"))

  // ---------------- incremental ANN mining ------------------------

  /** Persisted band-signature index artifact for the incremental ANN
    * miners ([[hardNegativesAnnIncremental]], [[tripletMiningIncremental]])
    * — ONE row per vector: (id, lbl, v, nrm, sigs, fullsig), i.e. the
    * cached frame the one-shot miners build internally, exposed so it can
    * be WRITTEN once and re-read per batch instead of re-scanning and
    * re-hashing the corpus on every mining run (the
    * [[Dedup.incrementalLshMatches]] treatment). Store it partitioned/
    * bucketed however the table layer prefers; band rows are derived
    * map-side at read time (posexplode), so no banding shuffle is ever
    * paid for the index side again. */
  def annIndex(
      corpus: DataFrame, idCol: String, vecCol: String, labelCol: String,
      dim: Int, bands: Int = 32, bitsPerBand: Int = 2, seed: Long = 42L
  ): DataFrame = {
    require(bands * bitsPerBand <= 64,
      "packed-signature dedup needs bands*bitsPerBand <= 64")
    val packed = (0 until bands).map(b =>
      shiftleft(element_at(col("sigs"), b + 1), b * bitsPerBand))
      .reduce(_ bitwiseOR _)
    corpus.select(col(idCol).as("id"), col(labelCol).as("lbl"),
        asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("sigs",
        rpSignatureBands(col("v"), bands, bitsPerBand, dim, seed))
      .withColumn("fullsig", packed)
  }

  /** Takedown/right-to-erasure on a persisted [[annIndex]] artifact:
    * remove every indexed row whose id appears in `removals` — the
    * operational delete a 100 TB similarity index must support without a
    * rebuild (DMCA/GDPR pulls, licence revocations, dedup-confirmed
    * casualties). Pure anti-join keyed by id: the artifact is never
    * re-scanned against the corpus and never re-hashed, and the removal
    * side (typically a few thousand ids) broadcasts under AQE — no hint,
    * so a bulk revocation that outgrows one executor degrades to a keyed
    * shuffle instead of an OOM. Downstream mining from the pruned artifact
    * is IDENTICAL to mining from an index that never contained the rows
    * (spec-pinned: the band signatures of surviving rows don't depend on
    * removed rows) — removed ids vanish both as anchors and as
    * candidates. */
  def annIndexRemove(indexArt: DataFrame, removals: DataFrame,
      idCol: String): DataFrame =
    indexArt.join(removals.select(col(idCol).as("id")).distinct(),
      Seq("id"), "left_anti")

  /** The from-index twin of [[bandSigFrame]]: the (band, sig)-keyed
    * signature frame derived from a persisted [[annIndex]] artifact — no
    * corpus re-scan and no re-hash, just the map-side explode (vector
    * and norm carried for the in-join verify) re-keyed and pinned. */
  private def artSigFrame(art: DataFrame, pin: Materialize.Pin): DataFrame = {
    // same band-0-only vector carry as bandSigFrame under "fetch" verify
    val vCol = if (fetchVerify(art)) when(col("band") === 0, col("v"))
      else col("v")
    val nrmCol = if (fetchVerify(art)) when(col("band") === 0, col("nrm"))
      else col("nrm")
    pin(art.select(col("id"), col("lbl"), col("v"), col("nrm"),
        col("fullsig"), posexplode(col("sigs")).as(Seq("band", "sig")))
      .select(col("id"), col("lbl"), vCol.as("v"), nrmCol.as("nrm"),
        col("fullsig"), col("band"), col("sig"))
      .repartition(art.sparkSession.sessionState.conf.numShufflePartitions,
        col("band"), col("sig")))
  }

  /** One-shot [[hardNegativesAnn]] FROM a persisted [[annIndex]] artifact:
    * the artifact already carries vectors, norms and band signatures, so
    * mining neither re-scans nor re-hashes the corpus — the operational
    * form at 100 TB, where the index is written once and every mining run
    * (initial or [[hardNegativesAnnIncremental]] fold) reads it. `bands`/
    * `bitsPerBand` must match the artifact's geometry. */
  def hardNegativesAnnFromIndex(
      indexArt: DataFrame, k: Int, bands: Int = 32, bitsPerBand: Int = 2,
      maxBucketSize: Int = 20000
  ): DataFrame =
    Materialize.scoped { pin =>
      val scored = annLabelScoredFromSigs(artSigFrame(indexArt, pin),
        sameLabel = false, bands, bitsPerBand, maxBucketSize)
      ranked(graft.plans.TopKPerGroup(scored,
        Seq(col("query_id")),
        Seq(col("cosine").desc, col("neighbor_id").asc), k))
    }

  /** [[tripletMiningSides]] FROM persisted per-seed [[annIndex]]
    * artifacts — `negIndexes` built with the negative geometry,
    * `posIndexes` with the positive one, each aligned with the seed
    * order. Pass the SAME sequence for both when the geometries coincide
    * (the gate config): each seed's signature frame is then shared across
    * the two label modes. */
  def tripletMiningSidesFromIndexes(
      negIndexes: Seq[DataFrame], posIndexes: Seq[DataFrame],
      bands: Int = 32, bitsPerBand: Int = 2, maxBucketSize: Int = 20000,
      posBands: Int = 0, posBitsPerBand: Int = 0
  ): (DataFrame, DataFrame) = {
    require(negIndexes.nonEmpty && posIndexes.size == negIndexes.size,
      "one annIndex artifact per seed per geometry")
    val (pBnd, pBits) = (if (posBands > 0) posBands else bands,
      if (posBitsPerBand > 0) posBitsPerBand else bitsPerBand)
    // ONE heap for both sides (grouping by the tag IS a per-side heap) and
    // ONE materialization — heaping or checkpointing the sides separately
    // would duplicate the bucket-join subtree into each side's plan
    splitTagged(Materialize.scoped { pin =>
      val negSigs = negIndexes.map(artSigFrame(_, pin))
      val sharedSigs =
        posIndexes.zip(negIndexes).forall { case (p, n) => p eq n }
      val posSigs =
        if (sharedSigs) negSigs else posIndexes.map(artSigFrame(_, pin))
      val tagged =
        if (sharedSigs && pBnd == bands && pBits == bitsPerBand)
          // coinciding geometries over shared artifacts: one bucket join
          // per seed serves both label modes
          negSigs.map(s => annLabelScoredBothFromSigs(s,
              bands, bitsPerBand, maxBucketSize))
            .reduce(_ unionByName _)
        else
          Seq((posSigs, true, pBnd, pBits),
              (negSigs, false, bands, bitsPerBand)).map {
            case (sigs, sameLabel, bnd, bits) =>
              sigs.map(s => annLabelScoredFromSigs(s, sameLabel,
                  bnd, bits, maxBucketSize))
                .reduce(_ unionByName _)
                .withColumn("__same", lit(sameLabel))
          }.reduce(_ unionByName _)
      taggedHeap1(tagged)
    })
  }

  /** Candidate pairs INVOLVING the batch (batch-batch, batch-index,
    * index-batch; never index-index — those are already in the prior
    * result): the banded-LSH machinery with the index side PRUNED to the
    * buckets the batch actually touches before any shuffle, so the
    * incremental cost scales with the batch, not the corpus. The
    * `maxBucketSize` cap is evaluated on the UNION population of each
    * touched bucket — exactly the one-shot cap restricted to touched
    * buckets; pairs already mined into the prior result are never
    * retroactively shed. */
  private[operators] def annIncrementalScored(
      indexArt: DataFrame, batchArt: DataFrame, pin: Materialize.Pin,
      sameLabel: Boolean, bands: Int, bitsPerBand: Int, maxBucketSize: Int
  ): DataFrame = {
    val spark = batchArt.sparkSession
    def keyed(rows: DataFrame): DataFrame =
      if (sameLabel) rows.withColumn("__lbl", col("lbl")) else rows
    val keyCols = if (sameLabel) Seq("__lbl", "band", "sig")
      else Seq("band", "sig")
    // In-join verify: band rows CARRY the vector and its norm, so the
    // exact verify happens INSIDE the bucket join and the shuffled volume
    // is n×bands vector rows — never candidate-pairs × vectors. (The
    // earlier pairs-carry-vectors formulation shuffled every candidate
    // pair with a vector attached: measured 27M wide rows / 733 MB / 66 s
    // at the sf1 rehearsal vs 3 s for this shape.) The NARROW alternative
    // ("fetch" verify, spark.graft.miner.verify=fetch) keeps the band
    // rows vector-free and scores pairs by two id-keyed joins against the
    // artifact vectors — see docs/SCALE.md "miner verify A/B".
    val fetch = fetchVerify(batchArt)
    def vBandRows(art: DataFrame): DataFrame =
      if (fetch)
        art.select(col("id"), col("lbl"), col("fullsig"),
          lit(null).cast("array<double>").as("v"),
          lit(null).cast("double").as("nrm"),
          posexplode(col("sigs")).as(Seq("band", "sig")))
      else
        art.select(col("id"), col("lbl"), col("fullsig"), col("v"),
          col("nrm"), posexplode(col("sigs")).as(Seq("band", "sig")))
    val bRows = pin(keyed(vBandRows(batchArt))
      .repartition(spark.sessionState.conf.numShufflePartitions,
        col("band"), col("sig")))
    // touched buckets: the batch's distinct bucket keys — batch-sized,
    // so the index prune is a semi-join AQE will usually broadcast
    val touched = bRows.select(keyCols.map(col): _*).distinct()
    val iRows = keyed(vBandRows(indexArt))
      .join(touched, keyCols, "left_semi")
    val allRows = iRows.withColumn("__isb", lit(false))
      .unionByName(bRows.withColumn("__isb", lit(true)))
    // bucket-cap population as a WINDOW count over the union (one
    // exchange + sort vs the agg + join-back's two): same populations —
    // the cap is the one-shot cap restricted to touched buckets
    val ok = allRows.withColumn("__bsz",
        count(lit(1)).over(Window.partitionBy(keyCols.map(col): _*)))
      .filter(col("__bsz") <= maxBucketSize)
    val vq = if (fetch) Nil
      else Seq(col("v").as("__qv"), col("nrm").as("__qn"))
    val vn = if (fetch) Nil
      else Seq(col("v").as("__nv"), col("nrm").as("__nn"))
    val a = ok.select(keyCols.map(col) ++ Seq(col("id").as("query_id"),
      col("lbl").as("__ql"), col("fullsig").as("__qf"),
      col("__isb").as("__ab")) ++ vq: _*)
    val b = ok.select(keyCols.map(col) ++ Seq(col("id").as("neighbor_id"),
      col("lbl").as("__nl"), col("fullsig").as("__nf"),
      col("__isb").as("__nb")) ++ vn: _*)
    val labelPred =
      if (sameLabel) col("__ql") === col("__nl") &&
        col("query_id") =!= col("neighbor_id")
      else col("__ql") =!= col("__nl")
    // the SAME dot/(nrm·nrm) double expression as the one-shot path —
    // identical value where both paths emit a pair
    val matched = a.hint("SHUFFLE_HASH").join(b, keyCols)
      .filter(col("__ab") || col("__nb"))
      .filter(labelPred)
      .filter(col("band") ===
        firstCollisionBand(col("__qf"), col("__nf"), bands, bitsPerBand))
    if (fetch)
      scoreFetched(matched.select(col("query_id"), col("neighbor_id")),
        indexArt.select(col("id"), col("v"), col("nrm"))
          .unionByName(batchArt.select(col("id"), col("v"), col("nrm"))))
    else matched
      .withColumn("cosine",
        round(nanSafe(dot(col("__qv"), col("__nv")) / (col("__qn") * col("__nn"))), 6))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
  }

  /** Incremental banded-LSH hard-negative top-k merge: new-batch-involved
    * cross-label candidates are exact-verified and merged with the PRIOR
    * per-anchor top-k under the distinct bounded heap, then ranked.
    * Exactness of the merge: a pair in the accumulated one-shot top-k is
    * either index-index (then it survives the index-only top-k — more
    * candidates only displace — so it is in `prior`) or batch-involved
    * (then the same banding generates it here). */
  private def annTopKIncremental(
      indexArt: DataFrame, prior: DataFrame, batchArt: DataFrame,
      pin: Materialize.Pin, k: Int, bands: Int, bitsPerBand: Int,
      maxBucketSize: Int
  ): DataFrame = {
    val merged = annIncrementalScored(indexArt, batchArt, pin,
        sameLabel = false, bands, bitsPerBand, maxBucketSize)
      .unionByName(prior.select(col("query_id"), col("neighbor_id"),
        col("cosine")))
    ranked(graft.plans.TopKPerGroup.distinct(merged, Seq(col("query_id")),
      Seq(col("cosine").desc, col("neighbor_id").asc), k))
  }

  /** Incremental [[hardNegativesAnn]]: fold a NEW BATCH of vectors into a
    * previously-mined result without re-scanning the corpus — `indexArt`
    * is the persisted [[annIndex]] artifact (same geometry + seed),
    * `priorTopK` the previous mining output over the index alone. Only
    * batch-involved buckets shuffle; SimilaritySpec proves incremental ==
    * one-shot over the accumulated corpus, and the q254 row pins it
    * against q161's exact oracle. */
  def hardNegativesAnnIncremental(
      indexArt: DataFrame, priorTopK: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, labelCol: String,
      k: Int, dim: Int, bands: Int = 32, bitsPerBand: Int = 2,
      seed: Long = 42L, maxBucketSize: Int = 20000
  ): DataFrame =
    Materialize.scoped { pin =>
      val batchArt = pin(annIndex(batch, idCol, vecCol, labelCol, dim,
        bands, bitsPerBand, seed))
      annTopKIncremental(indexArt, priorTopK, batchArt, pin, k, bands,
        bitsPerBand, maxBucketSize)
    }

  /** [[hardNegativesAnnIncremental]] with the batch's [[annIndex]]
    * artifact PREBUILT by the caller — a streaming fold that also writes
    * the artifact to the index hashes the batch once instead of three
    * times (mining, write, and the operator's internal rebuild). */
  def hardNegativesAnnIncrementalFromArt(
      indexArt: DataFrame, priorTopK: DataFrame, batchArt: DataFrame,
      k: Int, bands: Int = 32, bitsPerBand: Int = 2,
      maxBucketSize: Int = 20000
  ): DataFrame =
    Materialize.scoped { pin =>
      annTopKIncremental(indexArt, priorTopK, batchArt, pin, k, bands,
        bitsPerBand, maxBucketSize)
    }

  /** The per-anchor top-1 positive/negative frames behind
    * [[tripletMining]] — exposed (eagerly materialized) so callers can
    * PERSIST them as the prior state [[tripletMiningIncremental]] merges
    * into. Returns (positives, negatives), each
    * (query_id, neighbor_id, cosine). */
  def tripletMiningSides(
      corpus: DataFrame, idCol: String, vecCol: String, labelCol: String,
      dim: Int, bands: Int = 32, bitsPerBand: Int = 2,
      seeds: Seq[Long] = Seq(42L, 1042L), maxBucketSize: Int = 20000,
      posBands: Int = 0, posBitsPerBand: Int = 0
  ): (DataFrame, DataFrame) = {
    require(seeds.nonEmpty, "need at least one banding seed")
    // one heap + one materialization for both sides
    splitTagged(Materialize.scoped { pin =>
      val v = pin(corpus.select(col(idCol).as("id"), col(labelCol).as("lbl"),
          asDouble(col(vecCol)).as("v"))
        .withColumn("nrm", norm(col("v"))))
      tripletSidePlans(v, pin, dim, bands, bitsPerBand, seeds,
        maxBucketSize, posBands, posBitsPerBand)
    })
  }

  /** Assemble (anchor, positive, negative, margin) triplets from the two
    * top-1 side frames — [[tripletMining]]'s output shape. */
  def assembleTriplets(pos: DataFrame, neg: DataFrame): DataFrame =
    pos.select(col("query_id").as("anchor_id"),
        col("neighbor_id").as("positive_id"), col("cosine").as("pos_cosine"))
      .join(neg.select(col("query_id").as("anchor_id"),
        col("neighbor_id").as("negative_id"),
        col("cosine").as("neg_cosine")), Seq("anchor_id"))
      .withColumn("margin", round(col("pos_cosine") - col("neg_cosine"), 6))
      .select(col("anchor_id"), col("positive_id"), col("negative_id"),
        col("pos_cosine"), col("neg_cosine"), col("margin"))

  /** Incremental [[tripletMining]]: fold a new batch into previously
    * mined triplet SIDES (from [[tripletMiningSides]]) using persisted
    * [[annIndex]] artifacts — one per seed for the negative geometry
    * (`negIndexes`, aligned with `seeds`) and one per seed for the
    * positive geometry (`posIndexes`). Batch-only shuffles, same merge
    * exactness argument as [[hardNegativesAnnIncremental]]; anchors that
    * only now gain a positive or negative partner (the batch supplies it)
    * enter the output, which the joined-triplet form alone could not
    * recover — that is why the prior state is the SIDES, not the
    * triplets. */
  def tripletMiningIncremental(
      negIndexes: Seq[DataFrame], posIndexes: Seq[DataFrame],
      priorPos: DataFrame, priorNeg: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, labelCol: String, dim: Int,
      bands: Int = 32, bitsPerBand: Int = 2,
      seeds: Seq[Long] = Seq(42L, 1042L), maxBucketSize: Int = 20000,
      posBands: Int = 0, posBitsPerBand: Int = 0
  ): DataFrame = {
    require(negIndexes.size == seeds.size && posIndexes.size == seeds.size,
      "one annIndex artifact per seed per geometry")
    val (pBnd, pBits) = (if (posBands > 0) posBands else bands,
      if (posBitsPerBand > 0) posBitsPerBand else bitsPerBand)
    val taggedPrior = priorPos
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .withColumn("__same", lit(true))
      .unionByName(priorNeg
        .select(col("query_id"), col("neighbor_id"), col("cosine"))
        .withColumn("__same", lit(false)))
    // merge with the prior sides under ONE heap, materialize ONCE, then
    // assemble — per-side heaps/checkpoints would duplicate or serialize
    // the generation subtrees
    val (pos, neg) = splitTagged(Materialize.scoped { pin =>
      // Batch band-signature artifacts are per (seed, geometry); when the
      // positive geometry coincides with the negative one (the gate
      // config) the two sides share ONE artifact set instead of hashing
      // the batch twice.
      val negBatchArts = seeds.map(sd => pin(
        annIndex(batch, idCol, vecCol, labelCol, dim, bands, bitsPerBand,
          sd)))
      val posBatchArts =
        if (pBnd == bands && pBits == bitsPerBand) negBatchArts
        else seeds.map(sd => pin(
          annIndex(batch, idCol, vecCol, labelCol, dim, pBnd, pBits, sd)))
      val tagged =
        if (pBnd == bands && pBits == bitsPerBand)
          // coinciding geometries: one batch-involved bucket join per seed
          // serves both label modes (fusedBothModesFromRows proof)
          negIndexes.zip(negBatchArts).map { case (ix, ba) =>
            annIncrementalScoredBoth(ix, ba, pin, bands, bitsPerBand,
              maxBucketSize)
          }.reduce(_ unionByName _)
        else
          Seq((posIndexes, posBatchArts, true, pBnd, pBits),
              (negIndexes, negBatchArts, false, bands, bitsPerBand)).map {
            case (idxs, batchArts, sameLabel, bnd, bits) =>
              idxs.zip(batchArts).map { case (ix, ba) =>
                annIncrementalScored(ix, ba, pin, sameLabel, bnd, bits,
                  maxBucketSize)
              }.reduce(_ unionByName _)
                .withColumn("__same", lit(sameLabel))
          }.reduce(_ unionByName _)
      taggedHeap1(tagged.unionByName(taggedPrior))
    })
    assembleTriplets(pos, neg)
  }

  /** Per-DIMENSION embedding health audit: n, exact integer-scaled
    * (floor(x·2^20)) min/max/mean per dimension plus a dead-dimension flag
    * (min == max — a constant coordinate carries no information and
    * usually marks a truncated/misconfigured encoder). The audit every
    * embedding ingest should run before vectors enter an index: dead and
    * range-collapsed dimensions silently waste index bits and distort
    * distance scales.
    *
    * 100 TB shape: one (dim)-keyed partial agg over the posexplode —
    * dim × nPartitions rows of map-side state, output bounded by dim.
    * All-integer state; the SUM (not a mean) is emitted so no division
    * rounding can diverge across engines on negative values — mean is
    * sum_s20 / (n_vecs · 2^20) for the consumer. */
  def dimensionStats(corpus: DataFrame, vecCol: String): DataFrame =
    corpus
      .select(posexplode(transform(asDouble(col(vecCol)),
        x => floor(x * lit(1048576.0)).cast("long"))).as(Seq("dim", "__s")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("__s")).as("min_s20"), max(col("__s")).as("max_s20"),
        sum(col("__s")).as("sum_s20"))
      .select(col("dim").cast("long").as("dim"), col("n_vecs"),
        col("min_s20"), col("max_s20"), col("sum_s20"),
        (col("min_s20") === col("max_s20")).as("is_dead"))

  /** One-pass upper-triangle GRAM (second-moment) matrix of the embedding
    * column — XᵀX without ever materializing a pair of ROWS: each vector
    * emits its own d·(d+1)/2 coordinate products (one codegen'd
    * nested-transform + explode), and a (d1, d2)-keyed partial agg sums
    * them. The primitive behind PCA energy / whitening / anisotropy
    * audits: covariance is `sum_prod/n − mean·meanᵀ` from this plus
    * [[dimensionStats]], and the top-eigenvalue share falls out of a
    * driver-side eig of the tiny d×d result.
    *
    * Exactness: elements scale to floor(x·2^scaleBits) longs first (the
    * [[dimensionStats]] discipline), so sums are order-independent
    * integers and the DuckDB twin matches bit-for-bit. With |x| ≤ 1 the
    * per-row product is ≤ 2^(2·scaleBits); at the default 20 bits the
    * BIGINT sum holds to ~2^22 rows — beyond that, drop `scaleBits`
    * (products shrink 4× per bit) or widen the agg to DECIMAL(38,0);
    * the audit needs determinism, not 20-bit precision.
    *
    * 100 TB shape: map-only product generation; the only exchange carries
    * ≤ d²/2 rows per partition of map-side state and the output is bounded
    * by d² — corpus size never appears in the shuffle. */
  def embeddingGram(corpus: DataFrame, vecCol: String,
      scaleBits: Int = 20): DataFrame = {
    require(scaleBits >= 1 && scaleBits <= 30, "scaleBits in [1, 30]")
    val f = math.pow(2.0, scaleBits.toDouble)
    val scaled = transform(asDouble(col(vecCol)),
      x => floor(x * lit(f)).cast("long"))
    corpus
      .select(scaled.as("__s"))
      // null/empty vectors carry no moments — and size(null) = -1 would
      // otherwise drive sequence() descending and emit phantom dims
      .where(size(col("__s")) >= 1)
      .select(explode(flatten(transform(
        sequence(lit(0), size(col("__s")) - 1),
        i => transform(
          sequence(i, size(col("__s")) - 1),
          j => struct(i.as("d1"), j.as("d2"),
            (element_at(col("__s"), i + 1) *
              element_at(col("__s"), j + 1)).as("p")))))).as("__e"))
      .groupBy(col("__e.d1").cast("long").as("d1"),
        col("__e.d2").cast("long").as("d2"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("__e.p")).as("sum_prod"))
  }

  /** Deterministic Johnson–Lindenstrauss sign projection: each output
    * coordinate is Σᵢ ±sᵢ over the scaled-integer input coordinates, with
    * the ±1 matrix derived from the PORTABLE md5 hash of "j:i" (parity of
    * [[graft.functions.TextFunctions.portableHash60]]'s value) — so the
    * projection is bit-identical across engines AND across runs with no
    * stored matrix: any reader can re-derive it from (outDim, dim) alone.
    * Achlioptas 2001 gives the JL distortion bound for ±1 entries:
    * pairwise distances survive within (1±ε) at outDim = O(log n / ε²).
    * The cheap front-end of everything downstream — LSH over fewer dims,
    * coarse clustering, drift checks on a 4× smaller frame.
    *
    * Output: (id, out_dim, proj_s20) — exploded rows, exact BIGINTs
    * (|Σ| ≤ dim·2^20 at the default scale).
    *
    * 100 TB shape: the sign matrix is ONE nested-array literal baked
    * into the plan (hashes computed ONCE at plan build, never per row);
    * projection is a pure map-side higher-order row·matrix product —
    * zero shuffle, zero driver-side state beyond the plan itself. The
    * r12 form spelled the product as outDim×dim multiply-add expression
    * leaves; analysis/optimization of that 1024-node tree dominated the
    * query wall (r13 A/B: 2.9 s → 0.4 s at sf0.1, 3.0 s → 0.7 s at sf1,
    * bit-identical output — the HOF evaluates the same Long multiply-add
    * sequence). */
  def jlProject(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, outDim: Int, scaleBits: Int = 20): DataFrame = {
    require(dim >= 1 && outDim >= 1 && scaleBits >= 1 && scaleBits <= 30)
    val f = math.pow(2.0, scaleBits.toDouble)
    def sign(j: Int, i: Int): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$j:$i".getBytes("UTF-8"))
      // first 15 hex chars = 60 bits: 7 bytes + the high nibble of byte 7;
      // parity is just byte 7's nibble bit — but mirror the full hash60
      // derivation so the SQL twin is the verbatim portable formula
      val h = BigInt(1, d.take(8)).toLong >>> 4
      if ((h & 1L) == 1L) 1L else -1L
    }
    val scaled = transform(asDouble(col(vecCol)),
      x => floor(x * lit(f)).cast("long"))
    // the ±1 matrix rides the plan as ONE nested-array literal and the
    // row·matrix product as higher-order transform/zip_with/aggregate —
    // a ~10-node expression tree instead of outDim×dim (1024) multiply-
    // add leaves, whose analysis/optimization dominated the query's wall
    // at fixture scale (r13 A/B; the arithmetic is the same Long
    // multiply-add sequence, so values are bit-identical)
    val mat = typedlit((0 until outDim).map(j =>
      (0 until dim).map(i => sign(j, i))))
    val projs = transform(mat, row =>
      aggregate(zip_with(col("__s"), row, (x, s) => x * s),
        lit(0L), (acc, x) => acc + x))
    corpus.select(col(idCol), scaled.as("__s"))
      // a null or short vector would null element_at terms and emit null
      // projections — reject rather than silently degrade
      .where(size(col("__s")) === dim)
      .select(col(idCol), posexplode(projs).as(Seq("out_dim", "proj_s20")))
      .select(col(idCol), col("out_dim").cast("long").as("out_dim"),
        col("proj_s20"))
  }

  /** Anisotropy read-out of an [[embeddingGram]] result: the share of
    * total second-moment energy on the top eigenvector, via power
    * iteration on the COLLECTED d×d matrix — the one place driver-side
    * math is the right call (the matrix is dim²-bounded regardless of
    * corpus size; a 64-dim Gram is 32 KB). Returns (topEigenvalue /
    * trace) in [1/d, 1]: ≈1/d for isotropic embeddings, →1 when the
    * space collapses onto one direction (the "anisotropic embedding"
    * failure mode that makes cosine similarity saturate). Driver-side FP
    * — a diagnostic number, deliberately NOT an oracle surface. */
  def gramTopEigenShare(gram: DataFrame, iters: Int = 100): Double = {
    val rows = gram.select(col("d1").cast("int"), col("d2").cast("int"),
      col("sum_prod").cast("double"), col("n_vecs").cast("double")).collect()
    require(rows.nonEmpty, "empty gram")
    val d = rows.iterator.map(_.getInt(1)).max + 1
    val m = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      val v = r.getDouble(2) / r.getDouble(3)
      m(r.getInt(0))(r.getInt(1)) = v
      m(r.getInt(1))(r.getInt(0)) = v
    }
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var lambda = 0.0
    for (_ <- 0 until iters) {
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => m(i)(j) * v(j)).sum)
      val n = math.sqrt(w.map(x => x * x).sum)
      if (n > 0) { v = w.map(_ / n); lambda = n }
    }
    val trace = (0 until d).map(i => m(i)(i)).sum
    if (trace <= 0) 0.0 else lambda / trace
  }

  /** Embedding-space outlier gate (the centroid-distance quality filter of
    * SemDeDup-style pipelines): each vector's cosine to its group's mean
    * embedding; below `threshold` flags the vector as off-manifold for its
    * group. The centroid is held EXACTLY: elements scale to integers
    * (floor(x·2^20) — float→double→scale is exact, so the per-dimension
    * sums are order-independent longs, where a double mean would
    * hash-differ across engines by summation order), and since cosine is
    * scale-invariant the UNNORMALIZED sum vector stands in for the mean
    * with no division step at all.
    *
    * 100 TB shape: one (group, dim) partial-agg shuffle (explode ×dim of
    * long pairs, map-side combined), a per-group assemble, then a
    * broadcast join back — scoring is map-side. */
  def centroidOutliers(
      corpus: DataFrame, idCol: String, vecCol: String, groupCol: String,
      threshold: Double
  ): DataFrame = {
    val scaled = transform(asDouble(col(vecCol)),
      x => floor(x * lit(1048576.0)).cast("long"))
    val sums = corpus
      .select(col(groupCol), posexplode(scaled).as(Seq("__dim", "__s")))
      .groupBy(col(groupCol), col("__dim"))
      .agg(sum(col("__s")).as("__cs"))
      .groupBy(col(groupCol))
      .agg(transform(
        array_sort(collect_list(struct(col("__dim"), col("__cs")))),
        x => x.getField("__cs").cast("double")).as("__cent"))
    corpus.join(broadcast(sums), Seq(groupCol))
      .withColumn("cosine",
        round(cosine(asDouble(col(vecCol)), col("__cent")), 6))
      .select(col(idCol), col(groupCol), col("cosine"),
        (col("cosine") < threshold).as("is_outlier"))
  }

  /** Recall@k of an approximate neighbor result against the exact one —
    * the "measure, don't guess" evaluation harness for every ANN
    * configuration choice (centroids, nprobe, PQ bits). Both inputs are
    * (query_id, neighbor_id, …) top-k frames; output per query:
    * `n_exact`, `n_hit` (exact neighbors the approximate run recovered)
    * and integer-ppm `recall_ppm`. One join keyed by (query, neighbor) —
    * both sides are k rows per query, so cost scales with the query set,
    * never the corpus. */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("query_id"), col("neighbor_id"))
      // distinct: a duplicate (query, neighbor) row on the approx side
      // (e.g. a union of per-shard top-k lists) would fan out the join
      // and inflate BOTH n_exact and n_hit — the retrievalMetrics guard
      .join(approx.select(col("query_id"), col("neighbor_id")).distinct()
        .withColumn("__hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_ppm", expr("(1000000 * n_hit) div n_exact"))

  /** Retrieval-quality metrics over ANY ranked result frame — the
    * evaluation harness that turns "the index returns something" into
    * numbers a retrieval stack is tuned by. `results` is (query_id,
    * neighbor_id, rank) from any top-k operator ([[bruteForceTopK]],
    * [[ivfTopK]], [[pqTopK]], [[sq8TopK]]); `relevance` is the labeled
    * (query_id, neighbor_id) ground-truth pairs. One summary row:
    * n_queries, MRR, hit-rate@k and macro precision@k, all integer ppm
    * (per-query reciprocal ranks and precisions are integer-divided THEN
    * averaged, so every engine computes the identical number).
    *
    * The denominator is the UNION of the result and relevance query sets:
    * a labeled query the index returned nothing for scores 0 on every
    * metric instead of silently dropping out (which would inflate
    * MRR/hit-rate exactly when the index is at its worst). `relevance` is
    * deduplicated on (query_id, neighbor_id) first so accidental duplicate
    * ground-truth rows cannot fan out the join and push precision@k
    * past 10⁶ ppm.
    *
    * 100 TB shape: one equi-join keyed by (query, neighbor) — both sides
    * are k rows per query / labeled pairs, never corpus-sized — then a
    * query-keyed partial agg and a 1-row roll-up. */
  def retrievalMetrics(results: DataFrame, relevance: DataFrame,
      k: Int): DataFrame = {
    val rel = relevance.select(col("query_id"), col("neighbor_id")).distinct()
    val flagged = results.filter(col("rank") <= k)
      .join(rel.withColumn("__rel", lit(true)),
        Seq("query_id", "neighbor_id"), "left")
    val perQ = flagged.groupBy(col("query_id"))
      .agg(
        min(when(col("__rel"), col("rank"))).as("__first_rel"),
        sum(when(col("__rel"), lit(1L)).otherwise(lit(0L))).as("__n_rel"))
      .withColumn("__rr_ppm",
        coalesce(expr("1000000 div __first_rel"), lit(0L)))
      .withColumn("__p_ppm", expr(s"(1000000 * __n_rel) div $k"))
    // relevance-only queries (nothing retrieved) enter with all-zero scores
    val allQ = perQ
      .join(rel.select(col("query_id")).distinct(), Seq("query_id"), "full")
      .select(
        coalesce(col("__rr_ppm"), lit(0L)).as("__rr_ppm"),
        coalesce(col("__p_ppm"), lit(0L)).as("__p_ppm"),
        coalesce(col("__n_rel"), lit(0L)).as("__n_rel"))
    allQ.agg(
      count(lit(1)).as("n_queries"),
      expr("sum(__rr_ppm) div count(1)").as("mrr_ppm"),
      expr("(1000000 * sum(case when __n_rel > 0 then 1 else 0 end)) " +
        "div count(1)").as("hit_rate_ppm"),
      expr("sum(__p_ppm) div count(1)").as("precision_at_k_ppm"))
  }

  /** Assign each vector to its nearest centroid (squared-L2), MAP-ONLY:
    * the centroid set rides along as one broadcast array row and the argmin
    * is a higher-order `aggregate` per corpus row — no shuffle at all, the
    * shape that keeps IVF assignment embarrassingly parallel at 100 TB.
    * Ties break to the lowest centroid_id (strict-less keeps the first of
    * the id-sorted array). */
  def assignClusters(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    val centArr = centroids
      .select(col("centroid_id").cast("long").as("centroid_id"),
        asDouble(col("vec")).as("cent_vec"))
      .agg(array_sort(collect_list(struct(col("centroid_id"), col("cent_vec"))))
        .as("__cents"))
    def sqDist(c: Column): Column = aggregate(
      zip_with(asDouble(col(vecCol)), c, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
    val best = aggregate(
      col("__cents"),
      struct(lit(null).cast("long").as("centroid_id"),
        lit(Double.MaxValue).as("d")),
      (acc, c) => {
        val d = sqDist(c.getField("cent_vec"))
        when(d < acc.getField("d"),
          struct(c.getField("centroid_id").as("centroid_id"), d.as("d")))
          .otherwise(acc)
      })
    df.crossJoin(broadcast(centArr))
      .withColumn("centroid_id", best.getField("centroid_id"))
      .drop("__cents")
  }

  /** Deterministic Lloyd refinement: `iterations` assign/mean steps over a
    * fixed centroid seed (each step: map-only assignment + one groupBy per
    * dimension mean). A k-means stand-in good enough to shape IVF buckets;
    * plug a trained model in production. Per-dimension means are computed
    * as integer-scaled sums (floor(x·2^20)) divided ONCE — a raw double
    * avg() merges partials in shuffle-fetch order, so centroid low bits
    * (and boundary vectors' cluster assignment) would vary run to run. */
  def refineCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, iterations: Int): DataFrame =
    (1 to iterations).foldLeft(centroids) { (cents, _) =>
      assignClusters(corpus, idCol, vecCol, cents)
        .select(col("centroid_id"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg((sum(floor(col("x") * lit(1048576.0)).cast("long"))
          .cast("double") / (count(lit(1)) * lit(1048576.0))).as("m"))
        .groupBy(col("centroid_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          e => e.getField("m").cast("float")).as("vec"))
    }

  /** Deterministic random hyperplanes for cosine LSH (signs of Gaussian
    * projections; seeded). */
  def randomPlanes(nbits: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nbits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Corpus-sized `bitsPerBand` for the banded-LSH operators: enough
    * signature bits that the EXPECTED bucket holds ~`targetBucket` rows,
    * never below `minBits`. Banded pair generation is O(Σ bucket²) =
    * O(n² / 2^bits) at FIXED bits — quadratic in corpus size (the sf1
    * rehearsal measured q51 at 132× for 10× data); holding the expected
    * bucket constant makes it O(n · targetBucket), linear. The cost is
    * recall at a given cosine (p^bits per band): sizing up concentrates
    * recall on the high-similarity pairs — the pairs that still matter
    * when the corpus grows.
    *
    * Below `pinBelow` rows the sizing is PINNED to `minBits`: small
    * corpora are where exact-recall contracts (oracle gates, pinned-plane
    * SQL twins) live, and the quadratic cost is immaterial there — the
    * scaling must never shift a gate-tested configuration out from under
    * its oracle just because the fixture grew a little. */
  def autoBitsPerBand(n: Long, minBits: Int, targetBucket: Int = 256,
      pinBelow: Long = 10000): Int = {
    if (n < pinBelow) return minBits
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt
    math.max(minBits, needed)
  }

  /** All band signatures of a double vector as one array<long> column,
    * via the fused [[graft.functions.expressions.SrpSignaturesExpr]] —
    * value-identical to `array(rpSignature(band 0), …)` (SimilaritySpec
    * pins it) but one small expression instead of bands×bits dot trees
    * (whose generated code takes seconds to janino-compile per stage). */
  def rpSignatureBands(vecDouble: Column, bands: Int, bitsPerBand: Int,
      dim: Int, seed: Long): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    val planes = (0 until bands)
      .flatMap(b => randomPlanes(bitsPerBand, dim, seed + b))
    GraftColumnBridge.column(graft.functions.expressions.SrpSignaturesExpr(
      GraftColumnBridge.expression(vecDouble), planes, bands, bitsPerBand))
  }

  /** Random-projection (SRP) signature: bit j = sign(v · plane_j). For two
    * vectors at angle θ, P(bit match) = 1 - θ/π — the classic cosine LSH. */
  def rpSignature(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      // one constant array literal per plane (NOT array(lit,...): a
      // CreateArray of 64 scalar literals re-assembles the array per row
      // and bloats every stage's codegen it appears in)
      val planeArr = lit(p.toArray)
      when(dot(asDouble(vec), planeArr) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Cosine near-dup pairs via SRP-LSH banding: `bands` bands of
    * `bitsPerBand` signature bits bucket the corpus; within-bucket pairs
    * are exact-cosine verified. The unblocked scale path for
    * [[Dedup.embeddingNearDupPairs]]: no O(n²) stage; recall for a pair at
    * cosine c is 1-(1-p^bitsPerBand)^bands with p = 1 - acos(c)/π. */
  def rpLshNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bands: Int = 8, bitsPerBand: Int = 4,
      seed: Long = 42L, maxBucketSize: Int = 10000, dim: Int = -1,
      blockCol: Option[String] = None
  ): DataFrame = {
    // callers know their embedding model's dimensionality — pass it to
    // skip the 1-row probe job (kept as a convenience fallback)
    val d = if (dim > 0) dim else df.select(size(col(vecCol))).first().getInt(0)
    // optional within-block restriction: the block rides along as part of
    // the bucket key, so only same-block pairs ever become candidates —
    // the routed scale path of [[Dedup.embeddingNearDupPairs]]. The
    // (band, sig) hash partitioning below still co-locates every
    // (block, band, sig) group, so the widened join adds no exchange.
    val blockKey = blockCol.map(_ => "__blk").toSeq
    val blockSel = blockCol.map(c => col(c).as("__blk")).toSeq
    // the (small) pair set is what the scope materializes
    Materialize.scoped { pin =>
      // normalize ONCE per vector: signatures are scale-invariant (sign of
      // dot is unchanged by positive scaling... but the FP boundary cases are
      // not, so the oracle twin must normalize identically), and the verify
      // stage becomes a single dot per pair instead of dot + two norms
      val v = pin(df.select(blockSel :+ col(idCol).as("id") :+
          normalize(asDouble(col(vecCol))).as("v"): _*))
      // all band signatures in ONE fused pass over the cached vectors (a
      // union of per-band selects re-scans v `bands` times; posexplode of
      // the signature array is one scan and the identical (band, sig) rows)
      val sigArr = rpSignatureBands(col("v"), bands, bitsPerBand, d, seed)
      // candidate generation mirrors the hardNegatives machinery: bucket
      // equi-join on (band, sig) with explicit fan-out partitioning, and —
      // when the whole signature packs into one long — the
      // first-collision-band integer filter replaces the `.distinct()`
      // re-shuffle of bands×-duplicated pairs (fallback to distinct() for
      // over-wide configurations)
      val packedFits = bands * bitsPerBand <= 64
      val blkC = blockKey.map(col)
      val s0 = v.select(blkC :+ col("id") :+ sigArr.as("sigs"): _*)
      val s = pin((if (packedFits) {
        val packed = (0 until bands).map(b =>
          shiftleft(element_at(col("sigs"), b + 1), b * bitsPerBand))
          .reduce(_ bitwiseOR _)
        s0.select(blkC :+ col("id") :+ packed.as("fullsig") :+
          posexplode(col("sigs")).as(Seq("band", "sig")): _*)
      } else
        s0.select(blkC :+ col("id") :+ lit(0L).as("fullsig") :+
          posexplode(col("sigs")).as(Seq("band", "sig")): _*))
        .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
          col("band"), col("sig")))
      val bucketKey = blockKey ++ Seq("band", "sig")
      // bucket cap as a WINDOW count: the (band, sig) partitioning above
      // co-locates every bucket key, so the annotation is one partition-
      // local sort instead of an agg + join-back (identical populations)
      val sOk = s.withColumn("__bsz",
          count(lit(1)).over(Window.partitionBy(bucketKey.map(col): _*)))
        .filter(col("__bsz").between(2, maxBucketSize))
      val a = sOk.select(blkC ++ Seq(col("band"), col("sig"),
        col("id").as("id_1"), col("fullsig").as("__f1")): _*)
      val b = sOk.select(blkC ++ Seq(col("band"), col("sig"),
        col("id").as("id_2"), col("fullsig").as("__f2")): _*)
      val joined = a.join(b, bucketKey).filter(col("id_1") < col("id_2"))
      // Cap-pressure semantics of the two dedup forms DIFFER, deliberately:
      // the packed filter keeps a pair only at its globally-first collision
      // band, so a pair whose first shared bucket was cap-shed is dropped
      // even if a later shared bucket survived; the distinct() fallback
      // keeps any pair with at least one surviving bucket. The packed rule
      // sheds exactly the pairs whose first collision lands in a hot
      // (boilerplate-blob) bucket — the population the cap exists to shed —
      // and buys the no-exchange dedup; recovering the fallback's rule
      // would need a pair-keyed exchange (min surviving band), the cost the
      // packed form exists to avoid. At the gate no bucket reaches the cap
      // (spec-pinned), so the two forms are machine-checked equal there.
      val candidates = if (packedFits) {
        joined.filter(col("band") ===
            firstCollisionBand(col("__f1"), col("__f2"), bands, bitsPerBand))
          .select(col("id_1"), col("id_2"))
      } else joined.select(col("id_1"), col("id_2")).distinct()
      candidates
        .join(v.select(col("id").as("id_1"), col("v").as("v_1")), "id_1")
        .join(v.select(col("id").as("id_2"), col("v").as("v_2")), "id_2")
        .withColumn("cosine", round(nanSafe(dot(col("v_1"), col("v_2"))), 6))
        .filter(col("cosine") >= threshold)
        .select(col("id_1"), col("id_2"), col("cosine"))
    }
  }

  /** Cluster-bounded semantic dedup (the SemDeDup shape — Abbas et al.
    * 2023: k-means the embedding space, then prune near-duplicate pairs
    * WITHIN each cluster only). A document is dropped when some
    * lower-id document in the same cluster has cosine ≥ `threshold`;
    * the returned rows are the dropped documents with their lowest-id
    * duplicate and that pair's cosine. Not a transitive closure —
    * chain-duplicates across clusters are [[Dedup.nearDupClusters]]'s job;
    * this is the intra-cluster prune that makes the O(n²) affordable.
    *
    * Shape: map-only centroid assignment ([[assignClusters]], broadcast
    * centroids) → normalize once per vector → within-cluster self-join
    * keyed by centroid_id → integer-struct min per dropped id. The
    * pairwise stage is O(Σ_c |cluster_c|²): at 100 TB the centroid count
    * is sized so clusters hold ~10⁴ vectors (SemDeDup uses k≈10⁵ for
    * 10⁹ docs), which bounds every bucket; `maxClusterSize` guards the
    * degenerate hot cluster by EXCLUDING oversized clusters from the
    * pairwise stage — their members are all kept undeduplicated. Audit
    * the exclusions with [[skippedClusters]] (same inputs): dedup
    * coverage must degrade visibly, not silently. */
  def semanticDedup(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, threshold: Double,
      maxClusterSize: Int = 100000
  ): DataFrame = {
    val v = assignClusters(corpus, idCol, vecCol, centroids)
      .select(col(idCol).as("id"), col("centroid_id"),
        normalize(asDouble(col(vecCol))).as("v"))
    val bounded = v
      .withColumn("__csz",
        count(lit(1)).over(Window.partitionBy(col("centroid_id"))))
      .filter(col("__csz") <= maxClusterSize)
      .drop("__csz")
    val a = bounded.select(col("centroid_id"), col("id").as("keep_id"),
      col("v").as("v_a"))
    val b = bounded.select(col("centroid_id"), col("id").as("id"),
      col("v").as("v_b"))
    a.join(b, Seq("centroid_id"))
      .filter(col("keep_id") < col("id"))
      .withColumn("cosine", round(nanSafe(dot(col("v_a"), col("v_b"))), 6))
      .filter(col("cosine") >= threshold)
      .groupBy(col("id"))
      .agg(
        min(col("centroid_id")).as("centroid_id"),
        min(struct(col("keep_id"), col("cosine"))).as("__m"))
      .select(col("id"), col("centroid_id"),
        col("__m.keep_id").as("dup_of"), col("__m.cosine").as("cosine"))
  }

  /** The clusters [[semanticDedup]] excluded from its pairwise stage:
    * (centroid_id, cluster_size) for every cluster over `maxClusterSize`.
    * One aggregation on the map-only assignment — run it alongside the
    * dedup to report skipped coverage (0 rows = full coverage). */
  def skippedClusters(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, maxClusterSize: Int = 100000
  ): DataFrame =
    assignClusters(corpus, idCol, vecCol, centroids)
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .filter(col("cluster_size") > maxClusterSize)

  /** Product-quantization codes: the vector splits into `m` subspaces;
    * each subspace gets a `k`-entry codebook (deterministic seed: the first
    * `k` corpus vectors' sub-vectors, same stand-in policy as
    * [[seedCentroids]]) and every vector stores its nearest code per
    * subspace — 100 TB posture: vectors compress dim×4 bytes → m bytes,
    * codebooks broadcast, assignment is map-only + one tiny window over
    * n×m rows partitioned by (id, subspace).
    *
    * Returns (id, s, code, __qd_micro-free) rows: one code per subspace.
    * Distances are integer-scaled micro-units (floor(d*1e6+0.5)) so every
    * downstream sum is order-independent and cross-engine exact. */
  def pqAssign(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, k: Int = 16): DataFrame =
    pqAssignWith(pqSubVectors(corpus, idCol, vecCol, m),
      pqCodebook(corpus, idCol, vecCol, m, k))

  /** [[pqAssign]] body against an already-built codebook, so
    * [[pqTopK]]/[[ivfPqTopK]] derive the codebook ONCE for both the code
    * assignment and the query ADC table. Nearest code per (id, s) rides
    * a partial-aggregated struct-min (the house argmin) instead of a
    * row_number window: the n×m×k candidate rows combine map-side to
    * n×m before any exchange and the window sort disappears (r13, guide
    * §2.3 aggregate-before-shuffle); (d_micro, code) struct-min ==
    * the former window's (d_micro asc, code asc) first row. */
  private def pqAssignWith(sub: DataFrame, cb0: DataFrame): DataFrame =
    sub.join(broadcast(cb0), Seq("s"))
      .withColumn("d_micro", sqDistMicro(col("sv"), col("cv")))
      .groupBy(col("id"), col("s"))
      .agg(min(struct(col("d_micro"), col("code"))).as("__best"))
      .select(col("id"), col("s"), col("__best.code").as("code"))

  /** The (s, code, cv) PQ codebook shared by [[pqAssign]]/[[pqTopK]]/
    * [[ivfPqTopK]]: sub-vectors of the first `k` corpus vectors IN ID
    * ORDER, codes 0..k−1 by that order (== the id for dense 0-based id
    * spaces, which the former `id < k` filter silently required — UUID or
    * offset ids yielded a short or empty codebook and empty PQ results
    * with no error). TakeOrdered keeps the seed pick at k rows map-side. */
  private def pqCodebook(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int): DataFrame = {
    val firstK = corpus.orderBy(col(idCol)).limit(k)
      .select((row_number().over(Window.orderBy(col(idCol))) - 1)
        .cast("long").as("__code"), col(vecCol).as("__cv"))
    pqSubVectors(firstK, "__code", "__cv", m)
      .select(col("s"), col("id").as("code"), col("sv").as("cv"))
  }

  /** PQ approximate top-k via asymmetric distance computation: per query,
    * the m×k codebook distance table is computed ONCE (tiny, broadcast),
    * then each corpus vector's distance is the INTEGER sum of its m code
    * lookups — no per-pair vector math at all. The standard IVF+PQ serving
    * shape at 100 TB (compose with [[assignClusters]] bucketing to prune
    * the corpus side). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, kNeighbors: Int, m: Int = 8, k: Int = 16): DataFrame = {
    // ONE codebook derivation serves the code assignment AND the query
    // ADC table (was re-derived by each — r13)
    val cb = pqCodebook(corpus, idCol, vecCol, m, k)
    val codes = pqAssignWith(pqSubVectors(corpus, idCol, vecCol, m), cb)
    val qTable = pqSubVectors(queries, idCol, vecCol, m)
      .select(col("id").as("query_id"), col("s"), col("sv"))
      .join(cb, Seq("s"))
      .withColumn("qd_micro", sqDistMicro(col("sv"), col("cv")))
      .select(col("query_id"), col("s"), col("code"), col("qd_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_micro").asc, col("neighbor_id").asc)
    codes.withColumnRenamed("id", "neighbor_id")
      .join(broadcast(qTable), Seq("s", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("qd_micro")).as("adc_micro"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNeighbors)
      .select(col("query_id"), col("neighbor_id"), col("adc_micro"), col("rank"))
  }

  /** IVF + PQ composed serving path — the production ANN shape at 100 TB:
    * the corpus is bucketed ONCE by nearest centroid ([[assignClusters]],
    * map-only) and compressed ONCE to m-byte PQ codes ([[pqAssign]]);
    * a query probes its `nprobe` closest buckets and ranks ONLY those
    * candidates by the integer ADC sum — per query the work is
    * |probed buckets| code lookups, never a corpus scan. Candidates are
    * pruned BEFORE the ADC join so full-corpus code rows outside the
    * probed buckets never enter the scoring shuffle. Fully deterministic
    * (seeded centroids + codebooks, integer micro-distances, id
    * tie-breaks) — exact ANSI twin in q100. */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, kNeighbors: Int,
      centroids: DataFrame, nprobe: Int,
      m: Int = 8, kCodes: Int = 16
  ): DataFrame = {
    val bucketed = assignClusters(corpus, idCol, vecCol, centroids)
      .select(col(idCol).as("neighbor_id"), col("centroid_id").as("n_cluster"))
    val cent = centroids.select(col("centroid_id"),
      asDouble(col("vec")).as("cent_vec"))
    val qdist = aggregate(
      zip_with(col("q_vec"), col("cent_vec"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("qd").asc, col("centroid_id").asc)
    val probes = queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("q_vec"))
      .join(broadcast(cent))
      .withColumn("qd", qdist)
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("centroid_id").as("n_cluster"))
    val candidates = bucketed.join(broadcast(probes), Seq("n_cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
    // ONE codebook derivation serves the code assignment AND the query
    // ADC table (was re-derived by each — r13)
    val cb = pqCodebook(corpus, idCol, vecCol, m, kCodes)
    val codes = pqAssignWith(pqSubVectors(corpus, idCol, vecCol, m), cb)
      .withColumnRenamed("id", "neighbor_id")
    val qTable = pqSubVectors(queries, idCol, vecCol, m)
      .select(col("id").as("query_id"), col("s"), col("sv"))
      .join(cb, Seq("s"))
      .withColumn("qd_micro", sqDistMicro(col("sv"), col("cv")))
      .select(col("query_id"), col("s"), col("code"), col("qd_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_micro").asc, col("neighbor_id").asc)
    candidates
      .join(codes, Seq("neighbor_id"))
      .join(broadcast(qTable), Seq("query_id", "s", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("qd_micro")).as("adc_micro"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNeighbors)
      .select(col("query_id"), col("neighbor_id"), col("adc_micro"), col("rank"))
  }

  /** (id, s, sv): subspace slices of the double-cast vector. */
  private def pqSubVectors(df: DataFrame, idCol: String, vecCol: String,
      m: Int): DataFrame = {
    val dlen = size(col("sv_all")) / m
    df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("sv_all"))
      .select(col("id"), col("sv_all"),
        explode(sequence(lit(0), lit(m - 1))).as("s"))
      .select(col("id"), col("s"),
        slice(col("sv_all"), col("s") * dlen + 1, dlen).as("sv"))
  }

  /** Squared L2 in integer micro-units: floor(d*1e6 + 0.5) of the
    * sequential (x-y)² sum — both engines compute the identical double,
    * so the floor is identical, and integer sums are order-independent. */
  private def sqDistMicro(a: Column, b: Column): Column =
    floor(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x) * 1e6 + 0.5).cast("long")

  /** Deterministic centroid pick for local IVF: the first `c` corpus vectors
    * by id (a k-means stand-in — the operator contract only needs SOME fixed
    * centroid set; plug a trained one in production). */
  def seedCentroids(corpus: DataFrame, idCol: String, vecCol: String, c: Int): DataFrame =
    corpus.orderBy(col(idCol)).limit(c)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("vec"))

  /** IVF top-k: probe the `nprobe` nearest centroid buckets per query. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      centroids: DataFrame, nprobe: Int
  ): DataFrame =
    ivfTopKFromIndex(ivfIndex(corpus, idCol, vecCol, centroids),
      queries, idCol, vecCol, k, centroids, nprobe)

  /** Persisted IVF index artifact: one (id, cell, v) row per corpus
    * vector with its nearest-centroid assignment — the thing a serving
    * deployment WRITES once (`.write.partitionBy("cell").parquet(...)`)
    * so queries never re-assign the corpus. Stored cell-partitioned, the
    * broadcast probe join on `cell` triggers dynamic partition pruning:
    * a serving run READS only the nprobe×queries probed cells, the
    * actual 100 TB win (assignment cost is paid at write, scan cost is
    * proportional to probed data). */
  def ivfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    assignClusters(corpus, idCol, vecCol, centroids)
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
        col("centroid_id").as("cell"))

  /** [[ivfTopK]] serving FROM a persisted [[ivfIndex]] artifact — no
    * corpus re-scan, no re-assignment. */
  def ivfTopKFromIndex(
      indexArt: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      centroids: DataFrame, nprobe: Int
  ): DataFrame = {
    val bucketed = indexArt.select(col("id").as("neighbor_id"),
      col("v").as("c_vec"), col("cell").as("n_cluster"))
    val cent = centroids.select(col("centroid_id"), asDouble(col("vec")).as("cent_vec"))
    val qdist = aggregate(
      zip_with(col("q_vec"), col("cent_vec"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
    val probeW = Window.partitionBy(col("query_id")).orderBy(col("qd").asc, col("centroid_id").asc)
    val probes = queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("q_vec"))
      .join(broadcast(cent))
      .withColumn("qd", qdist)
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("q_vec"), col("centroid_id").as("n_cluster"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    bucketed.join(broadcast(probes), Seq("n_cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", round(cosine(col("q_vec"), col("c_vec")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Per-dimension scalar-quantization grid: ONE row holding the global
    * min and max of every dimension (the SQ8 codebook). One (dim)-keyed
    * partial agg — dim × nPartitions rows of map-side state — then a
    * dim-sized assemble; the result broadcasts. */
  def sq8Grid(corpus: DataFrame, vecCol: String): DataFrame =
    corpus.select(posexplode(asDouble(col(vecCol))).as(Seq("__dim", "__x")))
      .groupBy(col("__dim"))
      .agg(min(col("__x")).as("__mn"), max(col("__x")).as("__mx"))
      .groupBy()
      .agg(
        transform(array_sort(collect_list(struct(col("__dim"), col("__mn")))),
          x => x.getField("__mn")).as("mins"),
        transform(array_sort(collect_list(struct(col("__dim"), col("__mx")))),
          x => x.getField("__mx")).as("maxs"))

  /** int8 scalar quantization (SQ8): each dimension maps to a 0..255 code
    * on its global [min, max] grid — a 4x smaller index than float32 that
    * a serving tier holds in memory when the float vectors no longer fit.
    * Codes are exact integers (floor of an identical double expression in
    * both engines), so the quantized index is engine-portable. Map-only
    * after the one-row grid broadcast. */
  def sq8Codes(corpus: DataFrame, idCol: String, vecCol: String,
      grid: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(grid))
      .select(col(idCol), transform(asDouble(col(vecCol)), (x, i) => {
        val mn = element_at(col("mins"), i + 1)
        val rng = element_at(col("maxs"), i + 1) - mn
        when(rng === 0.0, lit(0.0))
          .otherwise(least(lit(255.0), floor((x - mn) / rng * lit(255.0) + lit(0.5))))
          .cast("int")
      }).as("code"))

  /** Asymmetric SQ8 top-k: corpus vectors are reconstructed from their int8
    * codes (mn + code/255·range per dim), queries stay exact float — the
    * standard asymmetric-distance serving shape (query precision is free,
    * corpus memory is the constraint). Scoring is the same sequential-order
    * cosine as [[bruteForceTopK]]; k-selection rides the bounded-heap
    * [[graft.plans.TopKPerGroup]] plan.
    *
    * 100 TB shape: the stored index is the code table (64 B/vector at
    * dim 64 vs 256 B float32) + one grid row; scan is map-side against
    * broadcast queries, no shuffle until the per-query heap merge. */
  def sq8TopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int
  ): DataFrame = {
    val grid = sq8Grid(corpus, vecCol)
    val recon = sq8Codes(corpus, idCol, vecCol, grid)
      .crossJoin(broadcast(grid))
      .select(col(idCol).as("neighbor_id"),
        transform(col("code"), (c, i) => {
          val mn = element_at(col("mins"), i + 1)
          val rng = element_at(col("maxs"), i + 1) - mn
          mn + c.cast("double") / lit(255.0) * rng
        }).as("c_vec"))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("q_vec"))
    val scored = recon.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", round(cosine(col("q_vec"), col("c_vec")), 6))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    val top = graft.plans.TopKPerGroup(scored, Seq(col("query_id")),
      Seq(col("cosine").desc, col("neighbor_id").asc), k)
    top.withColumn("rank",
      row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc)))
  }

  /** Embedding-distribution drift: per group, the cosine between the
    * centroids of two data splits (e.g. old batch vs new batch, model A vs
    * model B re-embeds) — the regression check run before swapping an
    * embedding model or admitting a new crawl. Centroids are EXACT integer
    * element sums (floor(x·2^20), the [[centroidOutliers]] discipline), so
    * the drift number is engine-portable; cosine's scale invariance lets
    * the unnormalized sums stand in for means. Output: (group, n_a, n_b,
    * cosine), groups present in both splits only.
    *
    * 100 TB shape: one (group, split, dim) partial-agg shuffle, a
    * group-sized assemble, then dictionary-sized joins. */
  def centroidDrift(corpus: DataFrame, idCol: String, vecCol: String,
      groupCol: String, splitCol: Column): DataFrame = {
    val scaled = transform(asDouble(col(vecCol)),
      x => floor(x * lit(1048576.0)).cast("long"))
    val base = corpus.select(col(groupCol), splitCol.cast("int").as("__half"),
      scaled.as("__sv"))
    val cents = base
      .select(col(groupCol), col("__half"),
        posexplode(col("__sv")).as(Seq("__dim", "__s")))
      .groupBy(col(groupCol), col("__half"), col("__dim"))
      .agg(sum(col("__s")).as("__cs"))
      .groupBy(col(groupCol), col("__half"))
      .agg(transform(
        array_sort(collect_list(struct(col("__dim"), col("__cs")))),
        x => x.getField("__cs").cast("double")).as("__cent"))
    val counts = base.groupBy(col(groupCol), col("__half"))
      .agg(count(lit(1)).as("__n"))
    val sides = cents.join(counts, Seq(groupCol, "__half"))
    val a = sides.filter(col("__half") === 0)
      .select(col(groupCol), col("__cent").as("__ca"), col("__n").as("n_a"))
    val b = sides.filter(col("__half") === 1)
      .select(col(groupCol), col("__cent").as("__cb"), col("__n").as("n_b"))
    a.join(b, Seq(groupCol))
      .withColumn("cosine", round(cosine(col("__ca"), col("__cb")), 6))
      .select(col(groupCol), col("n_a"), col("n_b"), col("cosine"))
  }

  /** Greedy k-center selection (Gonzalez): pick k maximally-diverse
    * vectors — seed = lowest id, then k−1 rounds each adding the point
    * farthest (squared L2, integer micro-units) from the chosen set. The
    * 2-approximation coreset/diversity pick behind "cover the embedding
    * space with k exemplars" curation.
    *
    * Inherently k passes over the corpus (each round is one max-reduction,
    * a TakeOrdered(1) job over the checkpointed distance state — never a
    * driver-side collect of data rows); per-round state is one (id, v, md)
    * row per vector, updated by a broadcast of the single new center.
    * Output: (sel_order, vec_id, dist_micro) — dist_micro is the point's
    * distance to the previously-chosen set at selection time (0 for the
    * seed), the classic coverage-radius curve. */
  def kCenterSelect(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k-center needs k >= 1")
    // a silent cast("long") would NULL non-numeric ids; demand a numeric
    // id column up front
    require(corpus.schema(idCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"kCenterSelect needs a numeric id column; '$idCol' is " +
        corpus.schema(idCol).dataType.simpleString)
    // the points are read twice (seed, first distance state); every later
    // round reads only the checkpointed state, so the pin ends there
    var seed: DataFrame = null
    var state = Materialize.scoped { pin =>
      val pts = pin(corpus.select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("v")))
      seed = pts.orderBy(col("id").asc).limit(1).localCheckpoint(true)
      pts.crossJoin(broadcast(seed.select(col("v").as("cv"))))
        .select(col("id"), col("v"), sqDistMicro(col("v"), col("cv")).as("md"))
    }
    var centers = seed.select(lit(0).as("sel_order"), col("id").as("vec_id"),
      lit(0L).as("dist_micro"))
    var r = 1
    var exhausted = false
    while (r < k && !exhausted) {
      val next = state.orderBy(col("md").desc, col("id").asc).limit(1)
        .localCheckpoint(true)
      // coverage radius 0 means every remaining point coincides with a
      // chosen center (k exceeds the distinct-point count): stop instead
      // of re-emitting duplicate centers. The probe reads one row of an
      // already-materialized 1-row checkpoint — no extra job.
      if (next.isEmpty || next.select(col("md")).first().getLong(0) == 0L)
        exhausted = true
      else {
        centers = centers.unionByName(next.select(lit(r).as("sel_order"),
          col("id").as("vec_id"), col("md").as("dist_micro")))
        if (r < k - 1)
          state = state.crossJoin(broadcast(next.select(col("v").as("cv"))))
            .select(col("id"), col("v"),
              least(col("md"), sqDistMicro(col("v"), col("cv"))).as("md"))
            .localCheckpoint(true)
        r += 1
      }
    }
    centers
  }
}
