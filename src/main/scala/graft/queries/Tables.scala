package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared table loaders for the query registries. */
object Tables {

  /** One parquet split (the default `spark.sql.files.maxPartitionBytes`). */
  val OneSplitBytes: Long = 128L << 20

  /** Read a catalog parquet table. */
  def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** [[table]], spread across cores ONLY when the file is smaller than one
    * parquet split and therefore cannot parallelize naturally.
    *
    * Scalar-bound stages (shingle hashing, tokenizing, regex scrubs) need
    * every core, but the local fixture is a single sub-split row group —
    * one scan partition. A blanket `repartition()` fixes that locally
    * while silently pessimizing real tables: the exchange costs a full
    * extra pass and (round-1 lesson, measured 25×) can demote dedup
    * self-joins from broadcast-hash to sort-merge. So the spread is
    * size-conditional: under one split (impossible for a 100 TB table,
    * true for every test fixture) it round-robins to
    * `defaultParallelism`; at scale it is the identity and the scan keeps
    * its parquet size statistics, split-per-core parallelism, and
    * broadcast candidacy. */
  def spreadIfSmall(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = table(s, dir, name)
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val small = scala.util.Try {
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      fs.getContentSummary(p).getLength < OneSplitBytes
    }.getOrElse(false)
    if (small) df.repartition(s.sparkContext.defaultParallelism) else df
  }
}
