package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation joins for 100 TB workloads.
  *
  * AQE's skew-join split handles moderate skew automatically; this utility
  * covers the extreme case it can't: a single hot key whose partition
  * exceeds executor memory even after splitting, in a join whose build side
  * is too large to broadcast. Standard salting: the skewed (large) side
  * gets a random salt in [0, saltFactor); the replicated side is exploded
  * across all salt values; the join key becomes (key, salt). Result
  * equality with the plain join is exact (spec-checked) — only the
  * partitioning changes.
  */
object SkewJoin {

  /** Inner-join `skewed` with `replicated` on `keys`, salting the skewed
    * side `saltFactor` ways. `replicated` grows by ×saltFactor — use when
    * |replicated| ≪ |skewed| but still too big to broadcast. */
  def saltedInnerJoin(
      skewed: DataFrame,
      replicated: DataFrame,
      keys: Seq[String],
      saltFactor: Int
  ): DataFrame = {
    require(saltFactor > 1)
    // salt = hash(non-key columns, partition id): rows of one hot key spread
    // even when they are bit-identical in every column (the degenerate
    // duplicate-row skew case, where a pure column hash is constant).
    // spark_partition_id is stable for a given input partitioning; the join
    // result set is identical for ANY salt value, so plan-level stability is
    // not required for correctness.
    val nonKey = skewed.columns.filterNot(keys.contains).map(col)
    val salted = skewed.withColumn("__salt",
      pmod(hash(nonKey :+ spark_partition_id(): _*), lit(saltFactor)))
    val exploded = replicated.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(exploded, keys :+ "__salt").drop("__salt")
  }

  /** Join-key skew audit (the q234 shape as a reusable operator): ONE row
    * of distribution statistics for `df`'s `keys` — key count, row count,
    * the heaviest key's rows, how many keys weigh more than 2× the mean
    * (integer cross-multiplied, no FP), and the heaviest key's ppm share.
    * This is the pre-join measurement that decides between a plain
    * shuffle join, [[saltedInnerJoin]], and trusting AQE's skew split. */
  def audit(df: DataFrame, keys: Seq[String]): DataFrame =
    // pinned (not checkpointed): the per-key frame can be billions of rows
    // on the audited side, and checkpoint blocks are only freed by RDD GC
    // — a pin is released deterministically once the 1-row audit is cut
    graft.Materialize.scoped { pin =>
      val perKey = pin(df.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("c")))
      val tot = perKey.agg(count(lit(1)).as("n_keys"),
        sum(col("c")).as("n_rows"), max(col("c")).as("max_key_rows"))
      // DECIMAL(38,0) cross-multiply: c·n_keys reaches 1e10·1e9 on the
      // 100 TB side this audit exists for — a Long wrap would classify
      // extreme skew as NOT skewed (and 1e6·max_key_rows can wrap too)
      val hot = perKey
        .crossJoin(broadcast(tot.select(col("n_keys").as("__nk"),
          col("n_rows").as("__nr"))))
        .filter(expr("CAST(c AS DECIMAL(38,0)) * __nk > " +
          "2 * CAST(__nr AS DECIMAL(38,0))"))
        .agg(count(lit(1)).as("n_hot_keys"))
      tot.crossJoin(broadcast(hot))
        .withColumn("top_share_ppm",
          expr("(CAST(1000000 AS DECIMAL(38,0)) * max_key_rows) div n_rows"))
        .select(col("n_keys"), col("n_rows"), col("max_key_rows"),
          col("n_hot_keys"), col("top_share_ppm"))
    }

  /** Skew-adaptive inner join: [[audit]] the skewed side once (a 1-row
    * STATISTICS read, not a data collect), then either join plainly (no
    * hot key — no replication cost paid) or salt with a factor sized so
    * the heaviest key's per-salt slice ≈ one average shuffle partition.
    * The reference's own join keys (TarchiveID, CandID) are Zipfian at
    * site scale: a mega-site's candidate must not pin one executor while
    * 999 idle. Use when the replicated side is too big to broadcast and
    * AQE's in-partition split is not trusted to hold (a single key
    * larger than executor memory). */
  def autoJoin(
      skewed: DataFrame,
      replicated: DataFrame,
      keys: Seq[String],
      maxSalt: Int = 64
  ): DataFrame = {
    val s = audit(skewed, keys)
      .select(col("n_keys"), col("n_rows"), col("max_key_rows")).first()
    // zero input rows → sum/max aggregate to NULL; read the count first
    // and fall back to the plain join before touching the nullable cells
    val nKeys = s.getLong(0)
    if (nKeys == 0L || s.isNullAt(1) || s.isNullAt(2))
      return skewed.join(replicated, keys)
    val (nRows, maxKey) = (s.getLong(1), s.getLong(2))
    val parts =
      skewed.sparkSession.sessionState.conf.numShufflePartitions.toLong
    val isSkewed = maxKey * nKeys > 2L * nRows
    val target = math.max(1L, nRows / math.max(1L, parts))
    val factor = math.min(maxSalt.toLong, (maxKey + target - 1) / target).toInt
    if (!isSkewed || factor <= 1) skewed.join(replicated, keys)
    else saltedInnerJoin(skewed, replicated, keys, factor)
  }
}
