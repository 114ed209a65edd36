package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Shared table loaders for the query registries. */
object Tables {

  /** One parquet split (the default `spark.sql.files.maxPartitionBytes`). */
  val OneSplitBytes: Long = 128L << 20

  /** A schema Spark inferred, keyed by what it was inferred from: the
    * table's leaf files as (path, length, modification time), and the
    * session confs that steer parquet schema conversion. */
  private final case class Inferred(files: Set[(String, Long, Long)],
      conf: Map[String, String], schema: StructType)

  /** One entry per qualified table path, replaced when its files or confs
    * no longer match, so the map holds at most one schema per table ever
    * read. */
  private val inferred = new ConcurrentHashMap[String, Inferred]

  /** Read a catalog parquet table.
    *
    * A parquet read without a schema runs one Spark job to read a footer
    * (`mergeSchemasInParallel`), on every read of the table. The first
    * read here lets Spark infer; later reads hand Spark that schema while
    * the table's files and the parquet confs are unchanged, and run no
    * job before their action. Any change infers again. */
  def table(s: SparkSession, dir: String, name: String): DataFrame =
    read(s, dir, name)._1

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
    * broadcast candidacy. The size is the table's data files, from the
    * listing the read already made. */
  def spreadIfSmall(s: SparkSession, dir: String, name: String): DataFrame = {
    val (df, files) = read(s, dir, name)
    if (files.map(_.getLen).sum < OneSplitBytes)
      df.repartition(s.sparkContext.defaultParallelism)
    else df
  }

  /** The table and the leaf files Spark listed for it. */
  private def read(s: SparkSession, dir: String, name: String)
      : (DataFrame, Seq[FileStatus]) = {
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val qualified =
      p.getFileSystem(s.sessionState.newHadoopConf()).makeQualified(p).toString
    val conf = s.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
      k.startsWith("spark.sql.legacy.parquet.") || k == "spark.sql.caseSensitive"
    }
    val reused = Option(inferred.get(qualified)).filter(_.conf == conf)
      .flatMap { e =>
        val df = s.read.schema(e.schema).parquet(path)
        val files = leafFiles(df)
        Option.when(fileKey(files) == e.files)((df, files))
      }
    reused.getOrElse {
      val df = s.read.parquet(path)
      val files = leafFiles(df)
      inferred.put(qualified, Inferred(fileKey(files), conf, df.schema))
      (df, files)
    }
  }

  /** The leaf files of the relation's own listing (a parquet path read
    * always lists through a `PartitioningAwareFileIndex`), so the key adds
    * no second listing. */
  private def leafFiles(df: DataFrame): Seq[FileStatus] =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(HadoopFsRelation(
          index: PartitioningAwareFileIndex, _, _, _, _, _), _, _, _, _) =>
        index.allFiles()
    }.getOrElse(sys.error(s"no file listing in ${df.queryExecution.analyzed}"))

  private def fileKey(files: Seq[FileStatus]): Set[(String, Long, Long)] =
    files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet
}
