package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions._

/** Corpus-preparation operators for LLM training-data pipelines (the
  * BASELINE.json north star, widened beyond dedup): repetition-based
  * quality filters, PII scrubbing, benchmark decontamination, deterministic
  * shard-shuffling, and domain rebalancing.
  *
  * All operators are engine-portable-deterministic (integer counts,
  * integer-ratio doubles with explicit rounding, [[portableHash60]] for any
  * hash ordering) so each carries an exact DuckDB oracle in
  * [[graft.queries.CorpusQueries]].
  *
  * 100 TB posture is noted per operator; none collects to the driver and
  * none uses an unpartitioned window.
  */
object CorpusOps {

  /** Repetition statistics per document — the Gopher-style (Rae et al.
    * 2021, "Scaling Language Models", §A1.1) repetition quality signals,
    * re-expressed as two-level aggregations:
    *
    *   - `n_tokens`      total whitespace tokens
    *   - `distinct_ppm`  floor(1e6 · distinct tokens / total tokens) — the
    *     type-token ratio as an integer parts-per-million fraction
    *   - `top_word_ppm`  floor(1e6 · top-token occurrences / total)
    *   - `top_bigram_ppm` floor(1e6 · top-2-gram occurrences / total
    *     2-grams) (NULL when the document has < 2 tokens)
    *   - `keep`          the composite gate (thresholds are parameters)
    *
    * Fractions are integer-scaled BIGINTs, never FP-rounded doubles: both
    * multiplication by 1e6 and IEEE division are exact/correctly-rounded in
    * every engine, and floor of a rational with denominator ≤ n_tokens can
    * never sit within an ulp of the boundary — whereas `round(x, 6)`
    * half-way behavior differs between Spark and DuckDB (the q20 lesson,
    * re-learned on q66 in round 2's driver gate).
    *
    * Shape: explode(tokens) → partial-agg count per (doc, token) → final
    * agg per doc — the wordcount shape, one shuffle keyed by (doc, token)
    * then one keyed by doc; both shuffles carry counts, not text. The
    * bigram branch is the same shape on [[shingles]] output, and the two
    * per-doc aggregates meet in an equi-join on the doc key (co-partitioned
    * by the preceding aggregations). Scales linearly in corpus token count.
    */
  def repetitionStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minDistinctFrac: Double = 0.5,
      maxTopWordFrac: Double = 0.12,
      maxTopBigramFrac: Double = 0.10
  ): DataFrame = {
    val id = col(idCol)
    val wordCounts = docs
      .select(id, explode(tokens(col(textCol))).as("tok"))
      .groupBy(id, col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(id)
      .agg(
        sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_word"))
    val bigramCounts = docs
      .select(id, explode(shingles(tokens(col(textCol)), 2)).as("bg"))
      .groupBy(id, col("bg"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(id)
      .agg(sum(col("cnt")).as("n_bigrams"), max(col("cnt")).as("top_bigram"))
    val distinctPpm =
      floor(lit(1e6) * col("n_distinct") / col("n_tokens")).cast("long")
    val topWordPpm =
      floor(lit(1e6) * col("top_word") / col("n_tokens")).cast("long")
    val topBigramPpm =
      floor(lit(1e6) * col("top_bigram") / col("n_bigrams")).cast("long")
    wordCounts
      .join(bigramCounts, Seq(idCol), "left")
      .select(
        id,
        col("n_tokens"),
        distinctPpm.as("distinct_ppm"),
        topWordPpm.as("top_word_ppm"),
        topBigramPpm.as("top_bigram_ppm"),
        (distinctPpm >= ppm(minDistinctFrac) &&
          topWordPpm <= ppm(maxTopWordFrac) &&
          coalesce(topBigramPpm <= ppm(maxTopBigramFrac), lit(false)))
          .as("keep"))
  }

  /** A fraction threshold as its exact parts-per-million integer. */
  private def ppm(frac: Double): Long = math.round(frac * 1e6)

  /** [[repetitionStats]] in ONE codegen'd map-only pass
    * ([[graft.functions.expressions.RepetitionStatsExpr]]): identical
    * output (spec-pinned in RepetitionStatsSpec), zero shuffle. Repetition
    * statistics are row-local, so at 100 TB they should never leave their
    * partition — the explode→agg→join twin above is retained as the
    * semantic oracle (it is also the DuckDB-oracle formulation). */
  def repetitionStatsFused(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minDistinctFrac: Double = 0.5,
      maxTopWordFrac: Double = 0.12,
      maxTopBigramFrac: Double = 0.10
  ): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val stats = GraftColumnBridge.column(
      graft.functions.expressions.RepetitionStatsExpr(
        GraftColumnBridge.expression(col(textCol))))
    val distinctPpm =
      floor(lit(1e6) * col("__s.n_distinct") / col("__s.n_tokens")).cast("long")
    val topWordPpm =
      floor(lit(1e6) * col("__s.top_word") / col("__s.n_tokens")).cast("long")
    val topBigramPpm = when(col("__s.n_bigrams") === 0, lit(null).cast("long"))
      .otherwise(
        floor(lit(1e6) * col("__s.top_bigram") / col("__s.n_bigrams"))
          .cast("long"))
    docs
      .withColumn("__s", stats)
      .select(
        col(idCol),
        col("__s.n_tokens").as("n_tokens"),
        distinctPpm.as("distinct_ppm"),
        topWordPpm.as("top_word_ppm"),
        topBigramPpm.as("top_bigram_ppm"),
        (distinctPpm >= ppm(minDistinctFrac) &&
          topWordPpm <= ppm(maxTopWordFrac) &&
          coalesce(topBigramPpm <= ppm(maxTopBigramFrac), lit(false)))
          .as("keep"))
  }

  /** PII patterns — deliberately restricted to constructs with identical
    * semantics in Java regex (Spark) and RE2 (DuckDB): literal classes,
    * bounded quantifiers, `\b` word boundaries. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val LongNumPattern = "\\b[0-9]{9,}\\b"

  /** PII detection + scrub: counts each pattern class and emits the md5 of
    * the scrubbed text (emails → `<EMAIL>`, IPv4 → `<IP>`, long digit runs
    * → `<NUM>`). Map-only — no shuffle, fully codegen'd, trivially linear
    * at 100 TB; the scrub hash lets a downstream exact-dedup run on the
    * anonymized form. */
  def piiScrub(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(t, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      LongNumPattern, "<NUM>")
    docs.select(
      col(idCol),
      size(regexp_extract_all(t, lit(EmailPattern), lit(0))).as("n_emails"),
      size(regexp_extract_all(t, lit(Ipv4Pattern), lit(0))).as("n_ips"),
      size(regexp_extract_all(t, lit(LongNumPattern), lit(0))).as("n_longnums"),
      md5(scrubbed.cast("binary")).as("scrub_hash"))
  }

  /** Benchmark decontamination: flags every training document sharing at
    * least one word `n`-gram with the benchmark set, with the count of
    * distinct shared n-grams (the standard test-set-overlap check run
    * before training; GPT-3 appendix C uses 13-grams — `n` is a
    * parameter).
    *
    * Shape: both sides explode to distinct n-gram hashes
    * ([[shingleHashes60]], one fused codegen pass per document), the
    * benchmark side is deduplicated, and the contamination join shuffles
    * BOTH sides by n-gram hash — at 100 TB this is the only correct
    * distribution (the benchmark gram set can itself be large), and hot
    * grams are bounded because each side carries each (doc, gram) at most
    * once. Output is per-train-doc, one row per contaminated document.
    */
  def decontaminate(
      train: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int
  ): DataFrame = {
    val trainGrams = train.select(
      col(idCol),
      explode(shingleHashes60(col(textCol), n)).as("gram"))
    val benchGrams = benchmark
      .select(explode(shingleHashes60(col(textCol), n)).as("gram"))
      .distinct()
    trainGrams
      .join(benchGrams, Seq("gram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** [[decontaminate]]'s map-only scale path: the benchmark gram set
    * compresses into a constant-size Bloom filter
    * ([[Sketches.bloom]] — m bits regardless of benchmark size) that
    * broadcasts to every task, and the training side probes it WITHOUT
    * shuffling — versus the exact version's gram-keyed shuffle of both
    * sides. The trade is explicit: no false negatives (a truly shared
    * gram always flags), a deterministic false-positive rate ≈
    * (1-e^(-k·n/m))^k that overcounts `n_flagged` slightly; callers
    * gating on `n_flagged > 0` accept that bias toward caution, exactly
    * how production decontamination uses Bloom pre-filters before an
    * exact confirm pass.
    *
    * Output: one row per training doc — `n_grams` (distinct), `n_flagged`
    * (distinct grams hitting the filter), `contaminated`. */
  def decontaminateBloom(
      train: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      mBits: Int = 4096,
      k: Int = 3,
      seed: Long = 11L
  ): DataFrame = {
    val benchGrams = benchmark
      .select(explode(shingleHashes60(col(textCol), n)).as("gram"))
    val words = Sketches.bloom(benchGrams, "gram", mBits, k, seed)
    val trainGrams = train.select(
      col(idCol), explode(shingleHashes60(col(textCol), n)).as("gram"))
    Sketches.bloomMightContain(trainGrams, words, "gram", mBits, k, seed)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        count(when(col("bloom_hit"), 1)).as("n_flagged"))
      .withColumn("contaminated", (col("n_flagged") > 0).cast("int"))
  }

  /** Two-stage decontamination — the production composition of
    * [[decontaminateBloom]] and [[decontaminate]]: the map-only Bloom pass
    * first flags candidate documents against the constant-size benchmark
    * sketch, then the exact gram-join runs ONLY over the flagged subset.
    * Because Bloom has no false negatives, the result is IDENTICAL to
    * running [[decontaminate]] over the full corpus (q107 pins this with
    * q68's own oracle) — but the expensive two-sided gram shuffle now
    * carries only the contamination-rate fraction of the corpus, with the
    * false-positive rate merely costing a few clean docs an exact check.
    * This is how decontamination actually ships at 100 TB: sketch gate,
    * exact confirm. */
  def decontaminateStaged(
      train: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      mBits: Int = 4096,
      k: Int = 3,
      seed: Long = 11L
  ): DataFrame = {
    val flagged = decontaminateBloom(train, benchmark, idCol, textCol,
        n, mBits, k, seed)
      .filter(col("contaminated") === 1)
      .select(col(idCol))
    decontaminate(
      train.join(flagged, Seq(idCol), "left_semi"),
      benchmark, idCol, textCol, n)
  }

  /** Deterministic corpus shard-shuffle: the "global shuffle before
    * training" step, reproducible across runs and engines. Each row gets
    *   - `shard` = portableHash60(id) mod nShards
    *   - `pos`   = its rank within the shard under (md5(id), id) order
    * so any engine re-derives the identical epoch-0 data order.
    *
    * Shape: one hash partitioning by shard + per-shard sort (a partitioned
    * window — never the unpartitioned kind). At 100 TB pick `nShards` ≈
    * corpus/shard-size (thousands), which also bounds each per-shard sort;
    * the md5 sort key is uniform so shards are balanced by construction. */
  def shardShuffle(docs: DataFrame, idCol: String, nShards: Int): DataFrame = {
    val idStr = col(idCol).cast("string")
    val shard = pmod(portableHash60(idStr), lit(nShards))
    val w = Window.partitionBy(col("shard"))
      .orderBy(md5(idStr.cast("binary")).asc, col(idCol).asc)
    docs
      .withColumn("shard", shard)
      .withColumn("pos", row_number().over(w))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Hashing-trick term-frequency featurizer (the HashingTF staple): each
    * document becomes a dense `dim`-long count vector, bucket =
    * portableHash60(token) mod dim — the deterministic, vocabulary-free
    * featurization used before any learned embedding exists.
    *
    * Shape: explode → one shuffle keyed by doc with map-side partial
    * conditional counts (the agg carries `dim` longs per doc, not tokens).
    * Scales linearly; `dim` bounds both state and output width. */
  def hashingTf(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dim: Int
  ): DataFrame = {
    require(dim >= 1, "dim must be >= 1")
    docs
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .withColumn("__b", pmod(portableHash60(col("tok")), lit(dim)))
      .groupBy(col(idCol))
      .agg(array((0 until dim).map(i =>
        count(when(col("__b") === i, lit(1)))): _*).as("tf_vec"))
  }

  /** Temperature-scaled domain mixing weights (the multilingual-corpus
    * balancing rule, p_i ∝ n_i^(1/T) with T=2 i.e. sqrt): upweights small
    * domains relative to proportional sampling. Engine-portable: the sqrt
    * is integer-scaled to a long BEFORE the normalizing sum, so the total
    * is an exact integer and the final division is a single deterministic
    * FP op. The normalizer is a broadcast 1-row aggregate — no driver
    * action, no unpartitioned window. */
  def domainTemperatureWeights(
      docs: DataFrame,
      domainCol: String
  ): DataFrame = {
    val scaled = docs
      .groupBy(col(domainCol))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("__s",
        floor(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
    scaled
      .crossJoin(broadcast(scaled.agg(sum(col("__s")).as("__tot"))))
      .select(col(domainCol), col("n_docs"),
        round(col("__s").cast("double") / col("__tot"), 6).as("weight"))
  }

  /** Centrality-weighted mixture targets — the composition that turns
    * [[graft.operators.GraphRank.pageRank]] host ranks (over
    * [[graft.operators.UrlOps.hostGraph]]) into per-host document
    * budgets for [[applyMixture]]: `n_target = budget·rank div Σrank`,
    * exact-integer proportional allocation (floors under-allocate by
    * < 1 doc per host — the water-fill in [[epochAllocation]] exists
    * for when that matters). THIS is the production reason the link
    * graph is here: crawl-quality weighting of the training mix.
    *
    * One broadcast 1-row total; the product widens through
    * DECIMAL(38,0) so a 10¹²-doc budget times a 10¹³-ppm rank cannot
    * wrap ([[GraphRank]]'s overflow discipline). */
  def rankWeightedTargets(ranks: DataFrame, keyCol: String,
      rankCol: String, budget: Long): DataFrame = {
    require(budget >= 0, "rankWeightedTargets needs budget >= 0")
    ranks
      .crossJoin(broadcast(
        ranks.agg(sum(col(rankCol)).as("__tot"))))
      .select(col(keyCol),
        expr(s"cast(cast($rankCol as decimal(38,0)) * $budget" +
          " div __tot as long)").as("n_target"))
  }

  /** Sequence packing: assign every document its position in the
    * fixed-length training-sequence stream (the concat-and-chunk step that
    * turns a shuffled corpus into model batches). Within each shard
    * (deterministic [[shardShuffle]] order), documents concatenate in md5
    * order; a document starting at running token offset `o` lands in
    * sequence `o div seqLen` at offset `o mod seqLen` (documents may span
    * sequence boundaries — the packer records starts, the trainer masks).
    *
    * Shape: one map for token counts, one hash partition by shard, one
    * per-shard ordered running sum (partitioned window, never global).
    * `nShards` sized to corpus/shard-size bounds each sort at 100 TB. */
  def packSequences(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nShards: Int,
      seqLen: Int
  ): DataFrame = {
    require(nShards >= 1 && seqLen >= 1)
    val idStr = col(idCol).cast("string")
    val w = Window.partitionBy(col("shard"))
      .orderBy(md5(idStr.cast("binary")).asc, col(idCol).asc)
    // null text counts -1 (size of null) and '' counts 1 (tokens('') is
    // ['']) — either corrupts the running offset of every later doc in
    // the shard; no-content docs contribute 0 tokens
    val nTok = when(col(textCol).isNull || trim(col(textCol)) === "", lit(0L))
      .otherwise(size(tokens(col(textCol))).cast("long"))
    docs
      .select(col(idCol), nTok.as("n_tokens"))
      .withColumn("shard", pmod(portableHash60(idStr), lit(nShards)))
      .withColumn("__end", sum(col("n_tokens")).over(w))
      .withColumn("__start", col("__end") - col("n_tokens"))
      .select(
        col(idCol), col("shard"), col("n_tokens"),
        expr(s"__start div $seqLen").as("seq_id"),
        pmod(col("__start"), lit(seqLen.toLong)).as("seq_offset"))
  }

  /** The full corpus-assembly pipeline (the q99 capstone) as ONE
    * declarative plan: normalize → exact-dedup (min id per normal form) →
    * token-length gate → benchmark decontamination (`n`-gram anti-join;
    * benchmark = every `benchEvery`-th doc id) → pack survivors into
    * training sequences. Every stage is an operator proven alone
    * (q45/q59/q68/q81); composing them in one plan lets Catalyst optimize
    * END TO END — and gives the streaming incremental-refresh wrapper
    * ([[graft.streaming.EventStream.assembleCorpusIncremental]]) a single
    * deterministic batch twin to converge to. */
  def assembleCorpus(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Int,
      benchEvery: Int,
      n: Int,
      nShards: Int,
      seqLen: Int
  ): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", ""), " +", " "))
    val normed = docs.select(col(idCol), norm.as("norm"))
    val gated = normed
      .groupBy(col("norm")).agg(min(col(idCol)).as(idCol))
      .withColumn("n_tokens", size(tokens(col("norm"))))
      .filter(col("n_tokens") >= minTokens)
    val benchGrams = normed.filter(pmod(col(idCol), lit(benchEvery)) === 0)
      .select(explode(shingleHashes60(col("norm"), n)).as("gram"))
      .distinct()
    val contaminated = gated
      .select(col(idCol), explode(shingleHashes60(col("norm"), n)).as("gram"))
      .join(benchGrams, Seq("gram"))
      .select(col(idCol)).distinct()
    val clean = gated.join(contaminated, Seq(idCol), "left_anti")
    packSequences(
      clean.select(col(idCol), col("norm").as(textCol)),
      idCol, textCol, nShards = nShards, seqLen = seqLen)
  }

  /** Intra-corpus duplicated-span statistics — the "how much of this
    * document is copied from elsewhere in the corpus" signal behind
    * substring-level dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", re-expressed at n-gram granularity: a
    * duplicated 50-token span is a run of duplicated n-grams). Per
    * document:
    *
    *   - `n_grams`     distinct word n-gram hashes in the document
    *   - `n_dup_grams` how many of those occur in ≥ `minDocFreq` documents
    *   - `dup_frac`    n_dup_grams / n_grams (NULL when n_grams = 0)
    *
    * Shape: fused per-doc shingle hashing ([[shingleHashes60]], distinct
    * within doc) → one count shuffle keyed by gram (map-side combine; each
    * (doc, gram) appears once so gram doc-frequency == row count) → one
    * join back keyed by gram → per-doc agg. Both shuffles carry 60-bit
    * hashes, never text; hot grams are bounded because each doc contributes
    * a gram once. Linear in corpus gram count at 100 TB. */
  def duplicatedNgramStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minDocFreq: Int = 2
  ): DataFrame = {
    val grams = docs.select(
      col(idCol), explode(shingleHashes60(col(textCol), n)).as("gram"))
    val gramDf = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
    val perDoc = grams
      .join(gramDf, Seq("gram"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("__n"),
        count(when(col("df") >= minDocFreq, lit(1))).as("__nd"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("__n"), lit(0L)).as("n_grams"),
        coalesce(col("__nd"), lit(0L)).as("n_dup_grams"),
        when(col("__n").isNull, lit(null).cast("double"))
          .otherwise(round(col("__nd").cast("double") / col("__n"), 6))
          .as("dup_frac"))
  }

  /** Deterministic integer weight for hashed-feature bucket `j`: a value in
    * [-10, 10] derived from md5 — identical in any engine that can md5
    * (DuckDB twin: `CAST(concat('0x', substr(md5('w' || j), 1, 15)) AS
    * BIGINT) % 21 - 10`). */
  def bucketWeight(j: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"w$j".getBytes("UTF-8"))
    val hex = d.take(8).map(b => f"$b%02x").mkString.take(15)
    java.lang.Long.parseLong(hex, 16) % 21L - 10L
  }

  /** Linear classifier inference over hashed features — the "run the
    * quality/toxicity model over the whole corpus" step, expressed as a
    * query: score(doc) = Σ_j tf_j · w_j over the [[hashingTf]] buckets,
    * with fixed integer weights ([[bucketWeight]]; swap in trained weights
    * in production — the plan shape is identical). All-integer arithmetic →
    * bit-exact in any engine, order-independent.
    *
    * Shape: one wordcount-style shuffle keyed by doc (the hashingTf agg),
    * then a map-only weighted fold of the dense vector. The weight vector
    * is a plan literal — broadcast for free inside codegen. Linear at
    * 100 TB; `dim` bounds agg state and output width. */
  def scoreHashedLinear(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dim: Int
  ): DataFrame = {
    val weights = array((0 until dim).map(j => lit(bucketWeight(j))): _*)
    hashingTf(docs, idCol, textCol, dim)
      .withColumn("score",
        aggregate(zip_with(col("tf_vec"), weights, (t, w) => t * w),
          lit(0L), (acc, x) => acc + x))
      .select(col(idCol), col("score"),
        (col("score") >= 0L).cast("int").as("keep"))
  }

  /** Apply a mixture: deterministic per-domain proportional sample. Given
    * per-domain row targets (e.g. `floor(weight × budget)` from
    * [[domainTemperatureWeights]]), keep each domain's first `n_target`
    * documents in md5-hash order — the step that turns computed mixing
    * weights into an actual training corpus. Domains holding fewer than
    * their target keep everything (the weights loop handles re-allocation;
    * this operator is the mechanical apply). Documents whose domain is
    * ABSENT from `targets` are dropped — a mixture that does not mention
    * a domain budgets it zero (the inner join is the policy, not an
    * accident); pass an explicit zero row to keep the domain visible in
    * counts, or pre-union missing domains if keep-all is wanted.
    *
    * Shape: targets are one row per domain — broadcast; then the
    * [[domainRebalance]] partitioned-rank shape with a per-domain dynamic
    * cap. One shuffle keyed by domain; extreme-skew pre-shedding composes
    * the same way as domainRebalance's. */
  def applyMixture(
      docs: DataFrame,
      idCol: String,
      domainCol: String,
      targets: DataFrame,
      targetCol: String = "n_target"
  ): DataFrame = {
    val idStr = col(idCol).cast("string")
    val w = Window.partitionBy(col(domainCol))
      .orderBy(md5(idStr.cast("binary")).asc, col(idCol).asc)
    docs
      .join(broadcast(targets.select(col(domainCol), col(targetCol))),
        Seq(domainCol))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= col(targetCol))
      .drop("__rk", targetCol)
  }

  /** [[applyMixture]]'s UPSAMPLING complement: when a domain's target
    * EXCEEDS its size (the small-high-quality-source epoch trick every
    * LLM mixture uses), emit ⌊target/size⌋ full epochs of every document
    * plus one extra copy of the first `target mod size` documents in md5
    * order — exactly `target` rows per domain, deterministic, no RNG.
    * Output: the input columns plus `epoch` (0-based copy index), so
    * downstream shuffling/packing can interleave epochs instead of
    * concatenating them. Domains already at or above target are NOT
    * downsampled here (compose with [[applyMixture]] for that side);
    * their docs emit epoch 0 once.
    *
    * 100 TB shape: targets broadcast; the only exchange is the per-domain
    * md5 rank window (one partition per domain — domains are the coarse
    * axis, row counts per domain bound the window; for a single mega
    * domain, rank only decides the REMAINDER copies, so pre-aggregate
    * cnt and skip ranking when target mod size == 0). The copy fan-out is
    * a map-side `explode(sequence(...))` — rows are produced, never
    * shuffled twice. */
  def upsampleMixture(
      docs: DataFrame,
      idCol: String,
      domainCol: String,
      targets: DataFrame,
      targetCol: String = "n_target"
  ): DataFrame = {
    import graft.functions.Predicates.idiv
    val idStr = col(idCol).cast("string")
    val w = Window.partitionBy(col(domainCol))
      .orderBy(md5(idStr.cast("binary")).asc, col(idCol).asc)
    val cnts = docs.groupBy(col(domainCol)).agg(count(lit(1)).as("__cnt"))
    docs
      .join(broadcast(targets.select(col(domainCol), col(targetCol))),
        Seq(domainCol))
      .join(broadcast(cnts), Seq(domainCol))
      .withColumn("__rk", row_number().over(w))
      .withColumn("__copies",
        greatest(lit(1L),
          idiv(col(targetCol), col("__cnt")) +
            when(col("__rk") <= pmod(col(targetCol), col("__cnt")), 1L)
              .otherwise(0L)))
      .withColumn("epoch",
        explode(sequence(lit(0L), col("__copies") - 1)))
      .drop("__rk", "__copies", "__cnt", targetCol)
  }

  /** Surprisal-proxy document scoring on Count-Min estimates: rarity(t) =
    * floor(10⁶ / est_count(t)) from a GLOBAL [[Sketches.countMin]] sketch;
    * doc score = Σ_tokens rarity — high for documents of rare vocabulary,
    * the all-integer stand-in for "sum of -log p(t)" (a float log would not
    * hash-match across engines; the ranking shape is identical). The
    * composition matters at 100 TB: the corpus-wide frequency table is a
    * constant-size sketch (never a vocabulary-sized join side), and the
    * estimate is evaluated PER OCCURRENCE off the broadcast sketch —
    * pure map work (d bucket probes of integer math per token), so the
    * only exchanges are the sketch aggregation and the per-doc sum. The
    * former shape estimated per DISTINCT token and joined back by token
    * string: one extra distinct exchange, plus a token-keyed join that
    * re-shuffles the whole token stream once the vocabulary outgrows a
    * broadcast — both removed (r13, guide §2.4). */
  def surprisalScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      width: Int = 1024,
      depth: Int = 4
  ): DataFrame = {
    val toks = docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok").isNotNull)
    val sketch = Sketches.countMin(toks, Seq.empty, "tok", width, depth)
    Sketches.cmsEstimate(sketch, toks, "tok", width, depth)
      .select(col(idCol),
        floor(lit(1000000.0) / col("est_count").cast("double"))
          .cast("long").as("__r"))
      .groupBy(col(idCol))
      .agg(sum(col("__r")).as("surprisal"), count(lit(1)).as("n_tokens"))
  }

  /** DSIR-style importance weights for targeted data selection (Xie et
    * al. 2023, "Data Selection for Language Models via Importance
    * Resampling", re-expressed engine-portably): score every raw document
    * by how much its hashed-unigram distribution looks like a TARGET
    * domain sample versus the raw corpus. Per token with bucket b
    * (portableHash60 mod `dim` — DSIR's hashed n-gram features),
    *
    *   tokenWeight(b) = floor(1e6 · ((tgt_b+1)·rawTotal) /
    *                                ((raw_b+1)·tgtTotal))
    *
    * the add-one-smoothed likelihood ratio as an integer-scaled micro
    * value; `dsir_score` = Σ tokenWeights. Both engines evaluate the
    * IDENTICAL double expression (two exact products, one correctly-
    * rounded division, floor), so scores hash-match; a float log-ratio
    * would not. High scorers resample toward the target domain.
    *
    * Shape: two wordcount-style bucket-count aggregations (raw + target)
    * → a `dim`-row weight table built with one 1-row total broadcast —
    * then scoring is explode + broadcast-join + per-doc sum. At 100 TB
    * the weight table stays `dim` rows no matter the corpus, the target
    * sample is small by definition, and the raw corpus crosses one
    * doc-keyed exchange carrying only (id, bucket). */
  def dsirWeights(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      dim: Int = 64
  ): DataFrame = {
    require(dim >= 2)
    def bucketCounts(df: DataFrame): DataFrame = df
      .select(explode(tokens(col(textCol))).as("tok"))
      .select(pmod(portableHash60(col("tok")), lit(dim)).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("n"))
    val rawCounts = bucketCounts(raw)
    val tgtCounts = bucketCounts(target)
    val buckets = raw.sparkSession.range(0, dim).select(col("id").as("b"))
    val table = buckets
      .join(rawCounts.withColumnRenamed("n", "raw_n"), Seq("b"), "left")
      .join(tgtCounts.withColumnRenamed("n", "tgt_n"), Seq("b"), "left")
      .na.fill(0L, Seq("raw_n", "tgt_n"))
    val withTotals = table.crossJoin(broadcast(table.agg(
      sum(col("raw_n")).as("__rt"), sum(col("tgt_n")).as("__tt"))))
    // an empty target sample would make every ratio x/0 — engines diverge
    // on double division by zero, so fail fast and actionably instead
    val weights = withTotals
      .withColumn("__tt", when(col("__tt") === 0,
        raise_error(lit("dsirWeights: target sample has no tokens")))
        .otherwise(col("__tt")))
      .select(col("b"),
        floor(lit(1e6) *
          ((col("tgt_n") + 1).cast("double") * col("__rt")) /
          ((col("raw_n") + 1).cast("double") * col("__tt")))
          .cast("long").as("w"))
    raw
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .select(col(idCol), pmod(portableHash60(col("tok")), lit(dim)).as("b"))
      .join(broadcast(weights), Seq("b"))
      .groupBy(col(idCol))
      .agg(sum(col("w")).as("dsir_score"), count(lit(1)).as("n_tokens"))
  }

  /** Domain rebalancing: cap every domain (source/language/bucket) at
    * `targetPerDomain` documents, chosen deterministically by hash order —
    * the "flatten the domain mixture" step of corpus assembly. Documents
    * whose domain is under the cap all survive.
    *
    * Shape: partitioned window rank per domain (hash order), filter. The
    * md5 rank key makes the selection a uniform random-but-reproducible
    * sample of each domain. Skewed domains bound the per-partition sort;
    * at extreme skew compose with a pre-filter `pmod(hash, K) < cap·K/cnt`
    * to shed the bulk before ranking (documented, not needed at test SF).
    */
  def domainRebalance(
      docs: DataFrame,
      idCol: String,
      domainCol: String,
      targetPerDomain: Int
  ): DataFrame = {
    val idStr = col(idCol).cast("string")
    val w = Window.partitionBy(col(domainCol))
      .orderBy(md5(idStr.cast("binary")).asc, col(idCol).asc)
    docs
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= targetPerDomain)
      .drop("__rk")
  }

  /** Mixing-temperature fit: pick the LEAST-flattening temperature τ whose
    * token allocation keeps every domain's oversampling (epochs over its
    * available tokens) under `maxOversamplePpm` — the "solve the mixture
    * against a token budget" step, as ONE declarative pass instead of a
    * driver-side search loop. The τ grid is the dyadic set {0, ¼, ½, ¾, 1}
    * whose powers are sqrt compositions (each IEEE-correctly-rounded, so
    * bit-identical in any engine — arbitrary τ via `pow` would not be);
    * weights floor to integer ppm BEFORE the total, so the normalizing sum
    * is order-free.
    *
    * Output: one row per τ (`tau_idx` 0..4 = τ·4) with
    * `max_oversample_ppm`, `feasible`, and `chosen` marking the largest
    * feasible τ (all-false when none fits).
    *
    * 100 TB shape: one token-moment shuffle per domain, then a 5×domains
    * grid — constant work after the moments. */
  def mixtureFit(
      docs: DataFrame,
      domainCol: String,
      textCol: String,
      budgetTokens: Long,
      maxOversamplePpm: Long = 2000000L
  ): DataFrame = {
    val m = docs
      .groupBy(col(domainCol))
      .agg(sum(size(tokens(col(textCol))).cast("long")).as("tok"))
      .filter(col("tok") > 0)
    val tokD = col("tok").cast("double")
    val t2 = sqrt(tokD)
    val t1 = sqrt(t2)
    val t3 = t2 * t1
    val grid = explode(array(
      struct(lit(0).as("tau_idx"), lit(1.0).as("w")),
      struct(lit(1).as("tau_idx"), t1.as("w")),
      struct(lit(2).as("tau_idx"), t2.as("w")),
      struct(lit(3).as("tau_idx"), t3.as("w")),
      struct(lit(4).as("tau_idx"), tokD.as("w"))))
    val g = m.select(col(domainCol), col("tok"), grid.as("__g"))
      .select(col(domainCol), col("tok"), col("__g.tau_idx").as("tau_idx"),
        floor(col("__g.w") * lit(1000000.0)).cast("long").as("w_int"))
    val tot = g.groupBy(col("tau_idx")).agg(sum(col("w_int")).as("__tw"))
    // DECIMAL(38,0) products: budget·w_int reaches 2.5e13·1e12 on a
    // 100 TB corpus with tau=1 weights — 2^63 wraps silently, DECIMAL
    // holds it exactly (same discipline as tokenDistributionDrift)
    val scored = g.join(tot, Seq("tau_idx"))
      .withColumn("__target", expr(
        s"(CAST($budgetTokens AS DECIMAL(38,0)) * w_int) div __tw"))
      .withColumn("__over", expr(
        "(CAST(1000000 AS DECIMAL(38,0)) * __target) div tok"))
      .groupBy(col("tau_idx"))
      .agg(max(col("__over")).as("max_oversample_ppm"))
      .withColumn("feasible",
        col("max_oversample_ppm") <= maxOversamplePpm)
    val best = scored.agg(
      max(when(col("feasible"), col("tau_idx"))).as("__best"))
    scored.crossJoin(broadcast(best))
      .withColumn("chosen", col("tau_idx") <=> col("__best"))
      .drop("__best")
  }

  /** Context-window chunking — the "split long documents into <= maxTokens
    * training pieces" step (the splitting dual of [[packSequences]], which
    * packs whole documents): each document's token stream cuts into
    * ceil(n/maxTokens) chunks, all full except the last, order preserved.
    * Documents already under the limit pass through as chunk 0. Map-only:
    * the split is a per-row array slice + explode, no shuffle at all, so
    * it rides whatever partitioning the corpus already has at 100 TB.
    *
    * Output: idCol + `chunk_idx` + `chunk_text` + `n_tokens` (per chunk).
    * Empty documents produce no rows (no trainable content). */
  def chunkDocuments(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxTokens: Int
  ): DataFrame = {
    require(maxTokens >= 1, "chunkDocuments needs maxTokens >= 1")
    val toks = tokens(col(textCol))
    // guarded token count: tokens(null) is null (size = -1, which would
    // drive sequence() DESCENDING and emit phantom null chunks) and
    // tokens('') is [''] (one bogus token) — both are no-content docs
    val nTok = when(col(textCol).isNull || trim(col(textCol)) === "", lit(0))
      .otherwise(size(toks))
    val chunks = when(nTok === 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), floor((nTok - 1) / maxTokens).cast("int")),
        i => array_join(slice(toks, i * maxTokens + 1, lit(maxTokens)), " ")))
    docs
      .select(col(idCol), nTok.as("__n"),
        posexplode(chunks).as(Seq("chunk_idx", "chunk_text")))
      .withColumn("n_tokens",
        least(col("__n") - col("chunk_idx") * maxTokens, lit(maxTokens))
          .cast("long"))
      .drop("__n")
  }

  /** Content-addressed diff between two corpus snapshots — the "what
    * changed since the last crawl/dump" step of an incremental training
    * pipeline. Documents are matched by id first (`unchanged` /
    * `changed`), then the id-orphans are re-matched by content fingerprint
    * so renumbered-but-identical documents classify as `moved` instead of
    * a spurious delete+add; only true orphans remain `removed` / `added`.
    * Duplicate contents pair deterministically (k-th smallest old id ↔
    * k-th smallest new id per fingerprint).
    *
    * Output: `old_id`, `new_id` (−1 when absent on that side), `status` ∈
    * unchanged | changed | moved | removed | added.
    *
    * 100 TB shape: one full-outer join keyed by id over md5 fingerprints
    * (text never shuffles); the rematch operates only on the id-orphan
    * minority, keyed by fingerprint, with a bounded per-fingerprint rank
    * window. */
  def snapshotDiff(
      prev: DataFrame,
      curr: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    // null text gets a sentinel fingerprint: md5(null) is null, and a
    // null hash fails every equality below — an id present in BOTH
    // snapshots with null text would otherwise be reported removed+added
    val fp = coalesce(md5(col(textCol).cast("binary")),
      lit("__null_text__"))
    val p = prev.select(col(idCol).as("id"), fp.as("__oh"))
    val c = curr.select(col(idCol).as("id"), fp.as("__nh"))
    val j = p.join(c, Seq("id"), "full")
    val same = j.filter(col("__oh") === col("__nh"))
      .select(col("id").as("old_id"), col("id").as("new_id"),
        lit("unchanged").as("status"))
    val edited = j
      .filter(col("__oh").isNotNull && col("__nh").isNotNull &&
        col("__oh") =!= col("__nh"))
      .select(col("id").as("old_id"), col("id").as("new_id"),
        lit("changed").as("status"))
    val wOld = Window.partitionBy(col("__h")).orderBy(col("old_id"))
    val wNew = Window.partitionBy(col("__h")).orderBy(col("new_id"))
    val goneCand = j.filter(col("__nh").isNull)
      .select(col("id").as("old_id"), col("__oh").as("__h"))
      .withColumn("__rn", row_number().over(wOld))
    val newCand = j.filter(col("__oh").isNull)
      .select(col("id").as("new_id"), col("__nh").as("__h"))
      .withColumn("__rn", row_number().over(wNew))
    val moved = goneCand.join(newCand, Seq("__h", "__rn"))
      .select(col("old_id"), col("new_id"), lit("moved").as("status"))
    val removed = goneCand.join(newCand, Seq("__h", "__rn"), "left_anti")
      .select(col("old_id"), lit(-1L).as("new_id"),
        lit("removed").as("status"))
    val added = newCand.join(goneCand, Seq("__h", "__rn"), "left_anti")
      .select(lit(-1L).as("old_id"), col("new_id"),
        lit("added").as("status"))
    same.unionByName(edited).unionByName(moved).unionByName(removed)
      .unionByName(added)
  }

  /** Classifier-threshold sweep — the "pick the quality-filter cutoff"
    * calibration step: confusion counts and integer-ppm precision/recall
    * per candidate threshold (predict positive at score ≥ t), against a
    * boolean relevance column.
    *
    * 100 TB shape: ONE aggregation shuffle builds the per-score-value
    * label histogram (|distinct scores| rows — score-range-sized, not
    * corpus-sized); every threshold then aggregates that tiny table, so
    * sweeping 10 or 1000 cutoffs re-reads nothing. */
  def thresholdSweep(
      scored: DataFrame,
      scoreCol: String,
      relevantCol: String,
      thresholds: Seq[Long]
  ): DataFrame = {
    require(thresholds.nonEmpty, "thresholdSweep needs >= 1 threshold")
    val hist = scored.groupBy(col(scoreCol).as("__s"))
      .agg(
        count(when(col(relevantCol), lit(1))).as("__np"),
        count(when(!col(relevantCol), lit(1))).as("__nn"))
    val th = explode(array(thresholds.map(lit(_)): _*)).as("threshold")
    hist.select(th, col("__s"), col("__np"), col("__nn"))
      .groupBy(col("threshold"))
      .agg(
        sum(when(col("__s") >= col("threshold"), col("__np"))
          .otherwise(lit(0L))).as("tp"),
        sum(when(col("__s") >= col("threshold"), col("__nn"))
          .otherwise(lit(0L))).as("fp"),
        sum(when(col("__s") < col("threshold"), col("__np"))
          .otherwise(lit(0L))).as("fn"),
        sum(when(col("__s") < col("threshold"), col("__nn"))
          .otherwise(lit(0L))).as("tn"))
      // integer `div`, not double `/`: 1e6·tp exceeds 2^53 once tp passes
      // ~9e9 docs, exactly the regime a 100 TB sweep runs in
      .withColumn("precision_ppm",
        when(col("tp") + col("fp") === 0, lit(null).cast("long"))
          .otherwise(expr("(1000000 * tp) div (tp + fp)")))
      .withColumn("recall_ppm",
        when(col("tp") + col("fn") === 0, lit(null).cast("long"))
          .otherwise(expr("(1000000 * tp) div (tp + fn)")))
  }

  /** C4-style global unit-level dedup (Raffel et al. 2020 §2.2's
    * "three-sentence" rule generalized): split every document into ordered
    * units (lines, sentences, token blocks — caller supplies the unit
    * array), count each distinct unit CORPUS-WIDE, delete every occurrence
    * of any unit appearing more than `maxOcc` times, and reassemble the
    * survivors in document order. This removes cross-document boilerplate
    * (headers, license blocks, navigation chrome) that document-level
    * dedup cannot see.
    *
    * Output: idCol + `n_removed` (units deleted) + `text_clean` (surviving
    * units joined by `sep`; "" when everything was boilerplate).
    *
    * 100 TB shape: units are counted and re-joined by their
    * [[portableHash60]] — the count shuffle carries fixed-width longs, not
    * unit text. The flagged set (global count > maxOcc) is the
    * heavy-hitter TAIL of the unit distribution — small by construction at
    * any corpus size — so it broadcasts and the removal join is map-side;
    * the only data-volume shuffle after counting is the per-document
    * reassembly agg. Within-document repeats count toward the global
    * threshold (as in C4). */
  /** Exact duplicated-span REMOVAL — the enforcement step of Lee et al.
    * 2022's ExactSubstr dedup, of which [[duplicatedNgramStats]] (q82) is
    * the measurement: any n-token span appearing in at least `minDocFreq`
    * documents is a duplicated substring, and every token covered by any
    * such span is deleted from EVERY document holding it (the paper's
    * conservative remove-all-copies policy), survivors reassembled in
    * order. Overlapping flagged spans union their coverage.
    *
    * Output: idCol + `n_tokens` (original) + `n_removed` (covered tokens)
    * + `text_clean`.
    *
    * 100 TB shape: gram doc-frequency is one distinct+count shuffle on
    * 60-bit gram hashes; the flagged set is the duplicated tail — small by
    * nature — and broadcasts into the coverage join, so marking is
    * map-side. Coverage positions collapse per document (collect_set
    * bounded by document length) and the only data-volume exchanges are
    * that per-document agg and the final join back to the text, both keyed
    * by document id. */
  def removeDuplicatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minDocFreq: Int = 2
  ): DataFrame = {
    val toks = tokens(col(textCol))
    val grams = docs.select(col(idCol),
      posexplode(shingleHashes60All(col(textCol), n))
        .as(Seq("__pos", "__gram")))
    val flagged = grams.select(col(idCol), col("__gram")).distinct()
      .groupBy(col("__gram")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocFreq)
      .select(col("__gram"))
    val covered = grams.join(broadcast(flagged), Seq("__gram"))
      .select(col(idCol),
        explode(sequence(col("__pos"), col("__pos") + lit(n - 1)))
          .as("__cov"))
      .groupBy(col(idCol))
      .agg(collect_set(col("__cov")).as("__covered"))
    val cov = coalesce(col("__covered"), array().cast("array<integer>"))
    docs.join(covered, Seq(idCol), "left")
      .select(col(idCol),
        size(toks).cast("long").as("n_tokens"),
        size(cov).cast("long").as("n_removed"),
        array_join(
          filter(toks, (t, i) => not(array_contains(cov, i))), " ")
          .as("text_clean"))
  }

  /** Boundary-aware sentence list of a text column — the unit relation
    * builder C4-style unit dedup and packing want instead of
    * whitespace/fixed-window blocks. The rule set is EXACT-INTEGER by
    * construction so any engine reproduces it verbatim (no NLP model,
    * no locale): a sentence ends at a terminator run `[.!?]+` that is
    * followed by whitespace and an ASCII uppercase letter (or by end of
    * input). Implemented lookaround-free — mark the boundary with an
    *  sentinel via one capture-group `regexp_replace`, then split
    * — because RE2 engines (DuckDB, Go) have no lookahead; the same two
    * calls reproduce it anywhere. Sentences keep their terminators;
    * entries are trimmed; empties drop.
    *
    * Documented limitation (inherent to the exact rule set): an
    * abbreviation directly before a capitalized word splits ("Dr.
    * Smith" → "Dr." | "Smith…") — the price of a rule both engines can
    * agree on byte-for-byte, and the SAME trade C4's cleaner makes with
    * its three-sentence rule. Digits after a period do NOT split
    * ("3. 15"), nor do lowercase continuations ("e.g. example"). */
  def sentenceArray(text: Column): Column =
    filter(
      transform(
        split(regexp_replace(text, "([.!?])\\s+([A-Z])", "$1$2"),
          ""),
        s => trim(s)),
      s => length(s) > 0)

  /** The sentence unit RELATION: one row per kept sentence —
    * (id, sent_idx, sentence, n_words), sent_idx = 0-based position in
    * the split (empty entries skipped, indices preserved... kept dense
    * via posexplode AFTER the empty-filter so downstream chunkers see
    * contiguous positions). NULL text yields no rows (posexplode of a
    * NULL array), consistent with the tokenizing operators. Map-only —
    * the 100 TB form is this projection feeding [[unitDedup]]'s
    * hash-count shuffle. */
  def sentenceUnits(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol),
        posexplode(sentenceArray(col(textCol)))
          .as(Seq("sent_idx", "sentence")))
      .withColumn("n_words",
        size(split(col("sentence"), "\\s+")).cast("long"))

  def unitDedup(
      docs: DataFrame,
      idCol: String,
      unitsCol: Column,
      maxOcc: Long,
      sep: String = " "
  ): DataFrame = {
    import graft.functions.TextFunctions.portableHash60
    val units = docs
      .select(col(idCol), posexplode(unitsCol).as(Seq("__pos", "__unit")))
      .withColumn("__h", portableHash60(col("__unit")))
    val flagged = units.groupBy(col("__h"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxOcc)
      .select(col("__h"), lit(true).as("__f"))
    units.join(broadcast(flagged), Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(
        sum(when(col("__f"), lit(1L)).otherwise(lit(0L))).as("n_removed"),
        array_join(
          transform(
            filter(
              array_sort(collect_list(
                struct(col("__pos"), col("__unit"), col("__f")))),
              x => x.getField("__f").isNull),
            x => x.getField("__unit")),
          sep).as("text_clean"))
  }

  /** Cross-document LINE dedup (the RefinedWeb/FineWeb cleaning stage;
    * reference analog: the file-level duplicate sweeps of
    * tools/example_scripts — same intent, line granularity): a line whose
    * trimmed form appears in MORE than `maxDocs` distinct documents is
    * boilerplate (cookie banners, nav footers, license headers) and is
    * removed from EVERY document; surviving lines rejoin in original
    * order. Differs from [[unitDedup]] on two axes that matter for crawl
    * text: the unit is the author's own line structure (not a fixed
    * token window), and the threshold counts DISTINCT documents — a
    * poem repeating its refrain 10× in one doc is not boilerplate, a
    * footer appearing once in each of 10k docs is.
    *
    * Whitespace-only lines are never counted and never removed (they
    * would otherwise always cross the threshold and strip every blank
    * separator); comparison is on the trimmed line, removal keeps the
    * original untrimmed text of survivors. Output: (id, n_removed,
    * text_clean). NULL text behaves as "" (one empty line, kept).
    *
    * 100 TB shape: lines explode map-side; the distinct-doc count is a
    * (hash,id)-distinct then a hash-keyed roll-up (two exchanges over
    * 60-bit keys, map-side combined); the over-threshold flag set joins
    * back keyed on the SAME hash, reusing the roll-up's partitioning
    * (no broadcast — the boilerplate set of a real crawl is unbounded);
    * reconstruction is one id-keyed collect. Line text shuffles once
    * (with its doc id); every other exchange carries 8-byte keys. */
  def lineDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDocs: Long,
      sep: String = "\n"
  ): DataFrame = {
    import graft.functions.TextFunctions.portableHash60
    val lines = docs
      .select(col(idCol),
        posexplode(split(coalesce(col(textCol), lit("")), "\n"))
          .as(Seq("__pos", "__line")))
      .withColumn("__k", trim(col("__line")))
      .withColumn("__h",
        when(col("__k") =!= "", portableHash60(col("__k"))))
    val flagged = lines.filter(col("__h").isNotNull)
      .select(col("__h"), col(idCol)).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxDocs)
      .select(col("__h"), lit(true).as("__f"))
    lines.join(flagged, Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(
        sum(when(col("__f"), lit(1L)).otherwise(lit(0L))).as("n_removed"),
        array_join(
          transform(
            filter(
              array_sort(collect_list(
                struct(col("__pos"), col("__line"), col("__f")))),
              x => x.getField("__f").isNull),
            x => x.getField("__line")),
          sep).as("text_clean"))
  }

  /** Per-group k-quantile bucket assignment over an integer score — the
    * CCNet split (Wenzek et al. 2020: per-language perplexity head /
    * middle / tail) generalized: docs in each group land in bucket
    * 0..k−1 by where their score's TIE GROUP starts in the cumulative
    * distribution (`bucket = min(k−1, k·|strictly below| div n)`), so
    * equal scores always share a bucket and the rule is exact-integer
    * on both engines. Output: (id, group, score, bucket).
    *
    * 100 TB shape: the q185 [[groupPercentileRank]] discipline — the
    * corpus collapses to a (group, score) count table first (one
    * map-side-combined shuffle), the running sum windows over that
    * bounded domain table, and docs get their bucket back in one join
    * keyed by (group, score), broadcastable when the score domain is
    * dictionary-sized. The corpus itself is never sorted — the full
    * per-language sort CCNet's sharded implementation runs is replaced
    * by the domain-table cumulative. */
  def quantileBuckets(df: DataFrame, idCol: String, groupCol: String,
      scoreCol: String, k: Int): DataFrame = {
    require(k >= 2, "quantileBuckets needs k >= 2")
    val c = df.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wn = Window.partitionBy(col(groupCol))
    val dom = c
      .withColumn("__below", coalesce(sum(col("__c")).over(w), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(wn))
      .withColumn("bucket",
        least(lit(k - 1L), expr(s"($k * __below) div __n")))
      .select(col(groupCol), col(scoreCol), col("bucket"))
    df.join(dom, Seq(groupCol, scoreCol))
      .select(col(idCol), col(groupCol), col(scoreCol), col("bucket"))
  }

  /** Corpus bigram language-model table: the top-`k` next tokens per
    * context word with exact counts and integer-ppm conditional
    * probability — the classic count-based LM that drives text-statistics
    * dashboards, OOD scoring, and cheap synthetic-text detection (real text
    * has heavy-tailed continuations; templated text doesn't).
    *
    * 100 TB shape: bigrams explode map-side (never materializing the token
    * list twice), ONE (w1, w2) count shuffle, a second w1-keyed roll-up
    * that is co-partitioned with the per-pair counts (reuses the hash
    * partitioning — no extra exchange of the big side), and k-selection on
    * the bounded-heap [[graft.plans.TopKPerGroup]] plan so the rank window
    * only ever sees k rows per context.
    * Output: (w1, w2, n, prob_ppm, rank). */
  /** Token-adjacency pairs: one map-side explode per document. */
  private def bigramPairs(docs: DataFrame, textCol: String): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    docs
      .select(toks.as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("__t")) - 1),
        i => struct(
          element_at(col("__t"), i).as("w1"),
          element_at(col("__t"), i + 1).as("w2")))).as("__bg"))
      .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
  }

  def bigramTopK(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val counts = bigramPairs(docs, textCol).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
    val ctx = counts.groupBy(col("w1")).agg(sum(col("n")).as("__n_ctx"))
    val scored = counts.join(ctx, Seq("w1"))
      .withColumn("prob_ppm", expr("(1000000 * n) div __n_ctx"))
      .select(col("w1"), col("w2"), col("n"), col("prob_ppm"))
    val top = graft.plans.TopKPerGroup(scored, Seq(col("w1")),
      Seq(col("n").desc, col("w2").asc), k)
    top.withColumn("rank",
      row_number().over(Window.partitionBy(col("w1"))
        .orderBy(col("n").desc, col("w2").asc)))
  }

  /** Collocation mining by PMI-style lift: for every adjacent word pair
    * with support >= `minCount`, lift = p(w1,w2) / (p(w1·)·p(·w2)) over the
    * bigram space — the corpus-level "these words belong together" signal
    * that surfaces multi-word entities for tokenizer and glossary work.
    * Products of exact integer counts are formed in doubles in a fixed
    * order (n12·N / n1 / n2), so both engines round the identical value.
    *
    * 100 TB shape: ONE (w1,w2) count shuffle; the left-word and right-word
    * marginals are roll-ups of that table (one co-partitioned on w1, one
    * re-keyed exchange on w2 — marginal tables are vocabulary-sized, tiny
    * next to the corpus); the global total is a 1-row broadcast; top-k is
    * TakeOrdered, never a full sort. Output: (w1, w2, n12, lift). */
  def collocationTopK(docs: DataFrame, textCol: String, minCount: Long,
      k: Int): DataFrame =
    graft.Materialize.scoped { pin =>
      val counts = pin(bigramPairs(docs, textCol).groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n12")))
      val left = counts.groupBy(col("w1")).agg(sum(col("n12")).as("__n1"))
      val right = counts.groupBy(col("w2")).agg(sum(col("n12")).as("__n2"))
      val total = counts.agg(sum(col("n12")).as("__nbg"))
      counts.filter(col("n12") >= minCount)
        .join(left, Seq("w1")).join(right, Seq("w2"))
        .crossJoin(broadcast(total))
        .withColumn("lift", round(
          col("n12").cast("double") * col("__nbg") / col("__n1") / col("__n2"),
          6))
        .select(col("w1"), col("w2"), col("n12"), col("lift"))
        .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
        .limit(k)
    }

  /** Within-group percentile rank (integer ppm) of a value column — the
    * per-source score-calibration step before a single global threshold is
    * applied to heterogeneous sources: pct_ppm = 10^6 · |strictly below| /
    * (n−1), 0 for singleton groups.
    *
    * 100 TB shape: the corpus collapses to a (group, value) count table
    * FIRST (one shuffle, map-side combined); the running "below" sum is a
    * window over that bounded distinct-value table (partitions are
    * per-group value domains, not row counts); docs get their rank back in
    * one join keyed by (group, value) — broadcastable whenever the domain
    * table is dictionary-sized. */
  def groupPercentileRank(df: DataFrame, idCol: String, groupCol: String,
      valueCol: String): DataFrame = {
    val c = df.groupBy(col(groupCol), col(valueCol)).agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col(valueCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wn = Window.partitionBy(col(groupCol))
    val ranked = c
      .withColumn("__below", coalesce(sum(col("__c")).over(w), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(wn))
      .withColumn("pct_ppm",
        when(col("__n") > 1, expr("(1000000 * __below) div (__n - 1)"))
          .otherwise(lit(0L)))
      .select(col(groupCol), col(valueCol), col("pct_ppm"))
    df.join(ranked, Seq(groupCol, valueCol))
      .select(col(idCol), col(groupCol), col(valueCol), col("pct_ppm"))
  }

  /** Attrition audit of the [[assembleCorpus]] pipeline: ONE row counting
    * every stage — raw docs, unique normalized texts, length-gated,
    * benchmark-contaminated, clean survivors (+ their token mass), and
    * packed training sequences. The data-genealogy artifact every corpus
    * release ships so a 40% silent drop at one stage is visible before
    * training, not after.
    *
    * 100 TB shape: each count is a 1-row aggregate of the corresponding
    * stage plan; the single-row frames compose by broadcast cross join, so
    * the report is one job whose exchanges are the stages' own. The
    * normalized/gated subtrees are persisted across their multiple
    * consumers (same discipline as minhashLshPairs). */
  def assembleAttrition(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Int,
      benchEvery: Int,
      n: Int,
      nShards: Int,
      seqLen: Int
  ): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", ""), " +", " "))
    // eager localCheckpoint, not persist: the 1-row aggregates broadcast
    // CONCURRENTLY, and racing broadcast jobs would each recompute a
    // lazily-persisted subtree before the cache is populated
    val normed = docs.select(col(idCol), norm.as("norm"))
      .localCheckpoint(true)
    val deduped = normed.groupBy(col("norm")).agg(min(col(idCol)).as(idCol))
    val gated = deduped
      .withColumn("n_tokens", size(tokens(col("norm"))))
      .filter(col("n_tokens") >= minTokens)
      .localCheckpoint(true)
    val benchGrams = normed.filter(pmod(col(idCol), lit(benchEvery)) === 0)
      .select(explode(shingleHashes60(col("norm"), n)).as("gram"))
      .distinct()
    val contaminated = gated
      .select(col(idCol), explode(shingleHashes60(col("norm"), n)).as("gram"))
      .join(benchGrams, Seq("gram"))
      .select(col(idCol)).distinct()
      .localCheckpoint(true)
    val clean = gated.join(contaminated, Seq(idCol), "left_anti")
    val packed = packSequences(
      clean.select(col(idCol), col("norm").as(textCol)),
      idCol, textCol, nShards = nShards, seqLen = seqLen)

    docs.agg(count(lit(1)).as("n_raw"))
      .crossJoin(broadcast(deduped.agg(count(lit(1)).as("n_unique_norm"))))
      .crossJoin(broadcast(gated.agg(count(lit(1)).as("n_len_gated"))))
      .crossJoin(broadcast(contaminated.agg(count(lit(1)).as("n_contaminated"))))
      .crossJoin(broadcast(clean.agg(count(lit(1)).as("n_clean"),
        sum(col("n_tokens")).cast("long").as("n_tokens_clean"))))
      .crossJoin(broadcast(packed.select(col("shard"), col("seq_id"))
        .distinct().agg(count(lit(1)).as("n_sequences"))))
  }

  /** Document-level co-occurrence mining with vocabulary pruning: pairs of
    * the `vocabSize` most frequent tokens appearing in the same document,
    * with document counts — market-basket analysis bounded the way it must
    * be at scale: the per-document pair explosion is capped at
    * vocabSize², never |doc|² (the unpruned form is quadratic in document
    * length and dies on the first long document).
    *
    * 100 TB shape: one token-count shuffle picks the vocabulary
    * (TakeOrdered, broadcast back as a semi-join filter); the pair join is
    * doc-keyed over the pruned (doc, token) distinct set; the final count
    * shuffle carries token pairs only. */
  def cooccurrenceTopK(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int, minSupport: Long, k: Int): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("tok").asc).limit(vocabSize)
      .select(col("tok"))
    val kept = toks.join(broadcast(vocab), Seq("tok"))
      .select(col(idCol), col("tok")).distinct()
    kept.select(col(idCol), col("tok").as("t1"))
      .join(kept.select(col(idCol), col("tok").as("t2")), Seq(idCol))
      .filter(col("t1") < col("t2"))
      .groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minSupport)
      .orderBy(col("n_docs").desc, col("t1").asc, col("t2").asc)
      .limit(k)
  }

  /** Per-group lexical concentration: Simpson index Σ(n_w/N)² over the
    * unigram distribution — the entropy-free (log-free, hence
    * engine-portable) diversity gate: ~1/V for diverse text, → 1 for
    * degenerate/templated sources. Also emits token and type counts.
    * The index is ONE double expression over exact integer sums
    * (Σn²/N/N in fixed order), so `round(..., 6)` is bit-identical.
    *
    * 100 TB shape: token explode collapses immediately into the
    * (group, token) count shuffle (map-side combined), then a group-sized
    * roll-up — the word table never joins anything. Overflow: Σn_w² within
    * BIGINT holds while every count stays ≤ 3·10^9; beyond that the
    * heavy-hitter counts dominate and DECIMAL(38,0) moments take over. */
  def lexicalConcentration(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame =
    docs
      .select(col(groupCol),
        explode(split(trim(col(textCol)), "\\s+")).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy(col(groupCol), col("__w"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col(groupCol))
      .agg(
        sum(col("__n")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("__n") * col("__n")).as("__s2"))
      .withColumn("simpson", round(
        col("__s2").cast("double") / col("n_tokens") / col("n_tokens"), 6))
      .select(col(groupCol), col("n_tokens"), col("n_types"), col("simpson"))

  /** EXACT total-variation drift of each group's token distribution from
    * the whole-corpus mixture — `tv_ppm = ⌊10⁶ · ½ Σ_t |c_gt/N_g − C_t/N|⌋`
    * as pure integer arithmetic: the per-token term is
    * |c_gt·N − C_t·N_g| (DECIMAL(38,0), order-free addition), and the
    * tokens a group has NEVER seen collapse to one closed-form term
    * `(N − Σ_{t∈g} C_t)·N_g` — so the plan never materializes the
    * group×vocabulary cross product the naive TV formula implies. The
    * corpus-mixture diagnostic the mixture-fitting family (q74/q87/q107)
    * consumes: a source whose tv_ppm moves between snapshots changed its
    * content, not just its size; no log/entropy, so no libm divergence.
    *
    * 100 TB shape: the (group, token) wordcount shuffle dominates
    * (map-side combined); the global-count frame re-aggregates that
    * output keyed by token; group totals and the 1-row N broadcast.
    * Everything after the two count shuffles is group-bounded. */
  def tokenDistributionDrift(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val toks = docs.select(col(groupCol).as("g"),
      explode(tokens(col(textCol))).as("tok"))
    val cgt = toks.groupBy(col("g"), col("tok")).agg(count(lit(1)).as("c"))
    val ct = cgt.groupBy(col("tok")).agg(sum(col("c")).as("ct"))
    val ng = cgt.groupBy(col("g")).agg(sum(col("c")).as("ng"))
    val n = ct.agg(sum(col("ct")).as("n"))
    cgt.join(ct, "tok")
      .join(broadcast(ng), "g")
      .crossJoin(broadcast(n))
      .withColumn("__term", expr(
        "abs(CAST(c AS DECIMAL(38,0)) * n - CAST(ct AS DECIMAL(38,0)) * ng)"))
      .groupBy(col("g"), col("ng"), col("n"))
      .agg(sum(col("__term")).as("__pres"), sum(col("ct")).as("__sg"))
      .select(col("g").as(groupCol), col("ng").as("n_tokens"), expr(
        """CAST((__pres + (CAST(n AS DECIMAL(38,0)) - __sg) *
          |  CAST(ng AS DECIMAL(38,0))) * 1000000
          |  DIV (2 * CAST(ng AS DECIMAL(38,0)) * n) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("tv_ppm"))
  }

  /** Frequency SPECTRUM per gram order — how many gram types fall in each
    * power-of-two count band (band = [[Sketches.bitLength]] of the exact
    * count) and how much token mass that band carries. The LNRE/Zipf-shape
    * diagnostic that complements the Heaps-law type-accumulation curve:
    * the head-band mass drives BPE vocab sizing, the singleton band (band
    * 1) is the hapax rate memorization audits track, and a band profile
    * that shifts between corpus versions flags template injection before
    * any dedup runs.
    *
    * All-integer: exact gram counts, hex-bit-length banding — bit-identical
    * cross-engine, no log() (whose libm rounding differs across engines).
    *
    * 100 TB shape: ONE text scan emits all gram orders (tagged structs,
    * flattened — no per-order re-scan), one wordcount-shaped shuffle with
    * map-side combine, then a ≤ orders·64-row band roll-up. Gram TYPES are
    * keyed by their fused 60-bit shingle hash, not the string — the
    * codegen'd [[graft.functions.TextFunctions.shingleHashes60All]] pass
    * replaces an interpreted higher-order chain, and the count shuffle
    * carries longs instead of n-gram strings. The identical md5 hash in
    * the DuckDB twin keeps the result exact even under a (≈2⁻⁶⁰) key
    * collision, since both engines would merge the same pair. */
  def frequencySpectrum(docs: DataFrame, textCol: String,
      orders: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    require(orders.nonEmpty && orders.forall(_ >= 1))
    val tagged = flatten(array(orders.map(n =>
      transform(shingleHashes60All(col(textCol), n),
        h => struct(lit(n).as("n"), h.as("gh")))): _*))
    docs.select(explode(tagged).as("__e"))
      .groupBy(col("__e.n").as("n"), col("__e.gh").as("gh"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col("n"), Sketches.bitLength(col("__cnt")).as("freq_band"))
      .agg(count(lit(1)).as("n_types"), sum(col("__cnt")).as("n_grams"),
        min(col("__cnt")).as("min_cnt"), max(col("__cnt")).as("max_cnt"))
  }

  /** Gopher-style document-quality rule bundle (Rae et al. 2021 §A1.1,
    * the rule set modern web corpora filter with) as one map-only
    * projection — every threshold an exact INTEGER cross-multiplication
    * so the verdicts are engine-portable and the DuckDB twin is the
    * same formula text:
    *   - word count in [minWords, maxWords]
    *   - mean word length in [3, 10]  (3·n ≤ Σlen ≤ 10·n)
    *   - symbol-to-word ratio ≤ 1/10  (10·symbols ≤ words; symbols are
    *     '#' and ellipses)
    *   - ≥ 80% of words contain an alphabetic char (5·alpha ≥ 4·n)
    *   - ≥ 2 distinct Gopher stopwords present
    * Line-shape rules (bullet/ellipsis line fractions) need line
    * structure the corpus interchange may not carry; they live with the
    * unit-level ops ([[unitDedup]]'s unit table). Emits per-rule
    * booleans plus the conjunction — keep the booleans, not just the
    * verdict: per-rule attrition is the report quality tuning reads. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val toks = tokens(col(textCol))
    val nWords = size(toks).cast("long")
    // sum of token lengths == chars minus whitespace (same identity the
    // oracle uses)
    val sumLen = length(regexp_replace(trim(col(textCol)), "\\s+", ""))
      .cast("long")
    val nSymbols = regexp_count(col(textCol), lit("#|\\.\\.\\.|…"))
      .cast("long")
    val nAlpha = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
    val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have",
      "with")
    val nStops = gopherStops.map(w =>
      when(array_contains(toks, w), 1).otherwise(0))
      .reduce(_ + _).cast("long")
    docs.select(col(idCol), nWords.as("n_words"),
        sumLen.as("sum_word_len"), nSymbols.as("n_symbols"),
        nAlpha.as("n_alpha_words"), nStops.as("n_stopwords"))
      .withColumn("ok_word_count",
        col("n_words").between(minWords, maxWords))
      .withColumn("ok_mean_word_len",
        lit(3L) * col("n_words") <= col("sum_word_len") &&
          col("sum_word_len") <= lit(10L) * col("n_words"))
      .withColumn("ok_symbol_ratio",
        lit(10L) * col("n_symbols") <= col("n_words"))
      .withColumn("ok_alpha_words",
        lit(5L) * col("n_alpha_words") >= lit(4L) * col("n_words"))
      .withColumn("ok_stopwords", col("n_stopwords") >= 2L)
      .withColumn("passes_all",
        col("ok_word_count") && col("ok_mean_word_len") &&
          col("ok_symbol_ratio") && col("ok_alpha_words") &&
          col("ok_stopwords"))
  }

  /** T5/UL2-style span-corruption sample prep (Raffel et al. 2020,
    * "Exploring the Limits of Transfer Learning", §3.1.4): turn each
    * document into a (input_text, target_text) denoising pair — masked
    * spans replaced by `<extra_id_k>` sentinels in the input, the
    * target enumerating each sentinel followed by its masked tokens.
    * Everything is DETERMINISTIC and engine-portable (the house
    * discipline): span starts are positions whose
    * [[portableHash60]](id:pos) lands under `densityPpm / meanSpan` of
    * the ppm dial, span length is `1 + (h div 10⁶) mod (2·meanSpan−1)`
    * (mean = meanSpan, so the expected masked fraction ≈ densityPpm),
    * overlapping spans merge into runs. Same-seeded runs on any engine
    * produce byte-identical pairs — which is what makes resumable /
    * reproducible objective prep possible at 100 TB.
    *
    * Scale shape: the big (token) side shuffles ONCE, keyed by id —
    * covered positions aggregate into a per-document `collect_set`
    * (map-side partial, dedup for free, bounded by document length —
    * documents are the natural unit, the same bound the window needs
    * anyway), the id-keyed join / window / final roll-up all share that
    * one hash partitioning. Docs with no tokens yield no row
    * (posexplode of an empty array), consistent with [[unitDedup]]. The
    * final sentinel T5 appends after the last span is omitted
    * (documented contract — both engines agree trivially either way). */
  def spanCorruption(docs: DataFrame, idCol: String, textCol: String,
      densityPpm: Long, meanSpan: Int): DataFrame = {
    require(densityPpm >= 0 && densityPpm <= 1000000L,
      "densityPpm must be in [0, 1e6]")
    require(meanSpan >= 1, "meanSpan must be >= 1")
    val startPpm = densityPpm / meanSpan
    val t = docs.select(col(idCol).as("id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val h = portableHash60(concat(col("id").cast("string"), lit(":"),
      col("pos").cast("string")))
    // covered positions of every selected span, folded into ONE
    // doc-length-bounded set per document (collect_set dedups overlap
    // merges map-side) — positions past the document end simply never
    // match a real token
    val covered = t.withColumn("__h", h)
      .where(col("__h") % 1000000L < startPpm)
      .select(col("id"), explode(sequence(col("pos"),
        col("pos") + (expr("__h div 1000000") % (2 * meanSpan - 1))
          .cast("int"))).as("pos"))
      .groupBy(col("id"))
      .agg(collect_set(col("pos")).as("__cov"))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val marked = t
      .join(covered, Seq("id"), "left")
      .select(col("id"), col("pos"), col("tok"),
        coalesce(array_contains(col("__cov"), col("pos")), lit(false))
          .as("m"))
      .withColumn("run_start",
        col("m") && !lag(col("m"), 1, false).over(w))
      .withColumn("run_idx",
        (sum(when(col("run_start"), 1L).otherwise(0L)).over(w) - 1)
          .cast("int"))
    val sentinel =
      concat(lit("<extra_id_"), col("run_idx").cast("string"), lit(">"))
    val inputPiece = when(!col("m"), col("tok"))
      .when(col("run_start"), sentinel)
    val targetPiece =
      when(col("run_start"), concat(sentinel, lit(" "), col("tok")))
        .when(col("m"), col("tok"))
    def joined(piece: Column): Column = concat_ws(" ",
      transform(
        filter(array_sort(collect_list(struct(col("pos"), piece.as("p")))),
          x => x.getField("p").isNotNull),
        x => x.getField("p")))
    marked.groupBy(col("id"))
      .agg(joined(inputPiece).as("input_text"),
        joined(targetPiece).as("target_text"),
        sum(when(col("m"), 1L).otherwise(0L)).as("n_masked"),
        sum(when(col("run_start"), 1L).otherwise(0L)).as("n_spans"))
  }

  /** Data-constrained epoch allocation (Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models"): given per-source
    * token counts, target mix weights, a total token budget, and a
    * repetition cap (max epochs any source may be repeated), compute
    * the per-source allocation by exact-integer water-filling — sources
    * whose weighted share exceeds `maxEpochsPpm × n_tokens` are CAPPED
    * there and the excess budget redistributes proportionally over the
    * uncapped sources, repeating until stable (≤ one round per source,
    * and the loop runs on the DRIVER over the collected source table —
    * a bounded artifact: sources are the mixture dimension, dozens, the
    * same justification as the k-centroid reads; the CORPUS never moves
    * here). All floor division; same inputs → same allocation anywhere.
    *
    * Output: (source, n_tokens, weight_ppm, alloc_tokens, epochs_ppm,
    * capped) — `epochs_ppm = alloc·10⁶ div n_tokens`, the dial a
    * training run reads to know how many times each source repeats. */
  def epochAllocation(sources: DataFrame, sourceCol: String,
      nTokensCol: String, weightPpmCol: String, targetTokens: Long,
      maxEpochsPpm: Long): DataFrame = {
    require(targetTokens >= 0 && maxEpochsPpm > 0)
    val spark = sources.sparkSession
    // bounded collect: one row per mixture source
    val rows = sources.select(col(sourceCol).cast("string"),
        col(nTokensCol).cast("long"), col(weightPpmCol).cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // a negative weight would silently corrupt wSum and every share
    // derived from it — fail descriptively instead
    rows.find(_._3 < 0).foreach { r =>
      throw new IllegalArgumentException(
        s"epochAllocation: source '${r._1}' has negative weight_ppm" +
          s" ${r._3}; weights must be >= 0")
    }
    case class S(src: String, n: Long, w: Long, alloc: Long,
      capped: Boolean)
    var st = rows.map { case (s, n, w) =>
      S(s, n, w, 0L, capped = false) }.toSeq
    var budget = targetTokens
    var changed = true
    while (changed && budget > 0 && st.exists(!_.capped)) {
      changed = false
      val wSum = st.filter(!_.capped).map(_.w).sum
      if (wSum <= 0) {
        // no weight left to absorb the budget: stop (under-allocation
        // is reported, never silently stretched)
        budget = 0
      } else {
        val next = st.map { s =>
          if (s.capped) s
          else {
            // BigInt products: budget·w overflows Long once targetTokens
            // exceeds ~9.2×10¹² with full ppm weights — multi-trillion-
            // token budgets are squarely in this operator's domain, and
            // the loop is a driver-side fold over dozens of rows, so the
            // widening costs nothing. Shares are ≤ targetTokens by
            // construction; the cap clamps at Long.MaxValue (an
            // effectively-uncapped source, never a negative wrap).
            val share = s.alloc +
              (BigInt(budget) * s.w / wSum).toLong
            val cap = (BigInt(maxEpochsPpm) * s.n / 1000000L)
              .min(BigInt(Long.MaxValue)).toLong
            if (share >= cap) { changed = true; s.copy(alloc = cap, capped = true) }
            else s.copy(alloc = share)
          }
        }
        val spent = next.map(_.alloc).sum - st.map(_.alloc).sum
        // un-capped allocations are provisional: they re-derive next
        // round from the remaining budget, so roll them back unless the
        // loop is ending
        if (changed) {
          st = next.map(s => if (s.capped) s else s.copy(alloc = 0L))
          budget = targetTokens - st.filter(_.capped).map(_.alloc).sum
        } else {
          st = next
          budget -= spent
        }
      }
    }
    import spark.implicits._
    st.map { s =>
      val epochs = if (s.n <= 0) 0L
        else (BigInt(s.alloc) * 1000000L / s.n).toLong
      (s.src, s.n, s.w, s.alloc, epochs, s.capped)
    }.toDF("source", "n_tokens", "weight_ppm", "alloc_tokens",
      "epochs_ppm", "capped")
  }

  /** Content-addressed corpus manifest — the dataset-versioning
    * artifact a reproducibility audit asks for: per shard, the doc
    * count, character volume, and an ORDER-INVARIANT digest (md5 over
    * the per-document digests sorted lexicographically, so shuffles,
    * repartitions, and insertion order never change it — only content
    * does). [[corpusRootDigest]] folds the shard digests the same way
    * into ONE corpus fingerprint: two corpora are content-identical iff
    * the roots match, and a drifted shard is found by diffing shard
    * rows. Per-doc digest covers id AND text, so id remaps surface too.
    *
    * Scale contract: one shard-keyed shuffle; the sorted-concat inside
    * a shard is bounded by the SHARD size (the caller's partition unit
    * — size shards as you size files; the digest list is 32 bytes/doc).
    * The per-doc digest hashes id and text SEPARATELY before folding
    * (md5(md5(id) || ':' || md5(text))): both inner digests are fixed
    * 32-hex, so no (id, text) boundary ambiguity exists — a raw
    * `id:text` concat would let ('a:b','c') collide with ('a','b:c'),
    * exactly the drift this artifact exists to pin. NULL text folds the
    * 4-char literal 'null', which no 32-hex md5 can equal, so a NULL
    * never collides with any real text either. */
  def corpusManifest(docs: DataFrame, idCol: String, textCol: String,
      shardCol: String): DataFrame = {
    val dg = md5(concat(
      md5(col(idCol).cast("string").cast("binary")), lit(":"),
      coalesce(md5(col(textCol).cast("binary")), lit("null")))
      .cast("binary"))
    docs.select(col(shardCol).as("shard"), dg.as("__d"),
        coalesce(length(col(textCol)), lit(0)).cast("long").as("__len"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__len")).as("sum_chars"),
        md5(concat_ws("", array_sort(collect_list(col("__d"))))
          .cast("binary")).as("shard_digest"))
  }

  /** One-row corpus fingerprint over a [[corpusManifest]]: shard
    * digests fold order-invariantly into the root. */
  def corpusRootDigest(manifest: DataFrame): DataFrame =
    manifest.agg(count(lit(1)).as("n_shards"),
      sum(col("n_docs")).as("n_docs"),
      md5(concat_ws("", array_sort(collect_list(col("shard_digest"))))
        .cast("binary")).as("root_digest"))

  /** Fill-in-the-middle objective prep (Bavarian et al. 2022,
    * "Efficient Training of Language Models to Fill in the Middle") —
    * the code-corpus sibling of [[spanCorruption]]: a deterministic
    * per-document dice picks `fimRatePpm` of documents, splits each
    * into (prefix, middle, suffix) at two hash-chosen token boundaries,
    * and reorders with sentinels — PSM
    * `<fim_prefix> P <fim_suffix> S <fim_middle> M`, or SPM
    * `<fim_suffix> S <fim_prefix> P <fim_middle> M` for `spmRatePpm`
    * of the transformed docs (the paper's joint PSM+SPM training).
    * Untransformed docs pass through whitespace-normalized
    * (`mode = 'plain'`).
    *
    * Entirely MAP-ONLY (tokens, two md5-prefix dice, three slices — no
    * shuffle at all: the ideal 100 TB transform), and deterministic on
    * any engine: boundaries are `a = h(id:a) mod (n+1)`,
    * `b = a + h(id:b) mod (n−a+1)`, so a re-run or a different engine
    * reproduces every sample byte-for-byte. Empty segments drop from
    * the joined output (both engines filter `''` before joining).
    * Output: (id, mode, text_out, n_prefix, n_middle, n_suffix). */
  def fimTransform(docs: DataFrame, idCol: String, textCol: String,
      fimRatePpm: Long, spmRatePpm: Long): DataFrame = {
    require(fimRatePpm >= 0 && fimRatePpm <= 1000000L &&
      spmRatePpm >= 0 && spmRatePpm <= 1000000L,
      "rates must be in [0, 1e6] ppm")
    val toks = tokens(col(textCol))
    val n = size(toks).cast("long")
    def dice(tag: String): Column = portableHash60(
      concat(col(idCol).cast("string"), lit(":" + tag)))
    val isFim = dice("fim") % 1000000L < fimRatePpm
    val isSpm = dice("spm") % 1000000L < spmRatePpm
    val a = (dice("a") % (n + 1L)).cast("int")
    val b = (a + (dice("b") % (n - a + 1L)).cast("int"))
    val prefix = array_join(slice(toks, lit(1), a), " ")
    val middle = array_join(slice(toks, a + 1, (b - a)), " ")
    val suffix = array_join(slice(toks, b + 1, (n.cast("int") - b)), " ")
    def joinNonEmpty(parts: Column*): Column = concat_ws(" ",
      filter(array(parts: _*), x => x =!= ""))
    docs.select(col(idCol).as("id"),
      when(!isFim, lit("plain"))
        .when(isSpm, lit("spm")).otherwise(lit("psm")).as("mode"),
      when(!isFim, array_join(toks, " "))
        .when(isSpm, joinNonEmpty(lit("<fim_suffix>"), suffix,
          lit("<fim_prefix>"), prefix, lit("<fim_middle>"), middle))
        .otherwise(joinNonEmpty(lit("<fim_prefix>"), prefix,
          lit("<fim_suffix>"), suffix, lit("<fim_middle>"), middle))
        .as("text_out"),
      when(isFim, a.cast("long")).otherwise(lit(0L)).as("n_prefix"),
      when(isFim, (b - a).cast("long")).otherwise(lit(0L)).as("n_middle"),
      when(isFim, (n - b)).otherwise(lit(0L)).as("n_suffix"))
  }

  /** Sequence-length capacity planning: for each candidate `seqLen`,
    * the exact-integer bounds every packing strategy lives between —
    * `naive_sequences` = Σ ⌈n_i/L⌉ (each document alone in its
    * sequences: the no-packing upper bound) and `ideal_sequences` =
    * ⌈Σn_i/L⌉ (perfect bin packing: the lower bound) — plus the naive
    * padding waste in ppm. ONE token-count scan serves every candidate
    * length (the lengths explode against per-doc counts); the report is
    * what picks L before committing a 100 TB tokenization run to it.
    * All integer arithmetic; the DuckDB twin is the same formula. */
  def packingEfficiency(docs: DataFrame, textCol: String,
      seqLens: Seq[Int]): DataFrame = {
    require(seqLens.nonEmpty && seqLens.forall(_ > 0))
    // same null/blank guard as packSequences/chunkDocuments: a NULL
    // text doc would contribute size(...) = -1 and corrupt the sums
    val counts = docs.select(
      when(col(textCol).isNull || trim(col(textCol)) === "", lit(0L))
        .otherwise(size(tokens(col(textCol))).cast("long"))
        .as("n_tokens"))
    counts
      .select(col("n_tokens"), explode(array(seqLens.map(lit): _*))
        .as("seq_len"))
      .groupBy(col("seq_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(expr("(n_tokens + seq_len - 1) div seq_len"))
          .as("naive_sequences"))
      .withColumn("ideal_sequences",
        expr("(total_tokens + seq_len - 1) div seq_len"))
      .withColumn("naive_waste_ppm",
        expr("(naive_sequences * seq_len - total_tokens) * 1000000" +
          " div (naive_sequences * seq_len)"))
  }
}
