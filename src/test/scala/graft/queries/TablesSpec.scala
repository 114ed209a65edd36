package graft.queries

import java.util.concurrent.{Callable, Executors}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.types._

import graft.{QueryProfile, SparkSpec}
import graft.sources.SyntheticFixtures

/** [[Tables.table]] infers a table's schema once and reuses it while the
  * table's files and the session's parquet confs are unchanged: reads
  * after the first run no Spark job before their action, and any change
  * to the key infers again. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** `body`'s result and the Spark jobs it ran. */
  private def jobsOf[A](body: => A): (A, Long) = {
    val profile = new QueryProfile(spark)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      (out, profile.now().jobs)
    } finally spark.sparkContext.removeSparkListener(profile)
  }

  private def inferred(dir: String, name: String): StructType =
    spark.read.parquet(s"$dir/$name.parquet").schema

  test("a second read runs no job before its action and keeps Spark's schema") {
    val dir = SyntheticFixtures.freshDir("tables_reuse")
    Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "score")
      .write.parquet(s"$dir/t.parquet")
    val (_, first) = jobsOf(Tables.table(spark, dir, "t"))
    assert(first >= 1, "the first read infers, one footer job")
    val (df, second) = jobsOf(Tables.table(spark, dir, "t"))
    assert(second == 0)
    assert(df.schema == inferred(dir, "t"))
    assert(df.as[(Long, String, Double)].collect().sorted.toSeq ==
      Seq((1L, "a", 1.5), (2L, "b", 2.5)))
  }

  test("rewriting a table with a new column type infers again") {
    val dir = SyntheticFixtures.freshDir("tables_rewrite")
    Seq(1, 2).toDF("id").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").schema("id").dataType == IntegerType)
    Seq("x", "y").toDF("id").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Tables.table(spark, dir, "t")
    assert(df.schema == inferred(dir, "t"))
    assert(df.schema("id").dataType == StringType)
    assert(df.as[String].collect().sorted.toSeq == Seq("x", "y"))
  }

  test("flipping spark.sql.parquet.binaryAsString follows the new conf") {
    // Spark's own writer stores its schema in the footer, which inference
    // prefers over the conf: a plain parquet writer leaves the binary bare
    val dir = SyntheticFixtures.freshDir("tables_binary")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required binary payload; }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/t.parquet"))
      .withType(schema).withConf(spark.sessionState.newHadoopConf()).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("payload", Binary.fromString("abc")))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    assert(Tables.table(spark, dir, "t").schema("payload").dataType == BinaryType)
    spark.conf.set(key, "true")
    try {
      val df = Tables.table(spark, dir, "t")
      assert(df.schema == inferred(dir, "t"))
      assert(df.schema("payload").dataType == StringType)
      assert(df.as[String].collect().toSeq == Seq("abc"))
    } finally spark.conf.unset(key)
    assert(Tables.table(spark, dir, "t").schema("payload").dataType == BinaryType)
  }

  test("a missing table raises PATH_NOT_FOUND, as a plain parquet read does") {
    val dir = SyntheticFixtures.freshDir("tables_missing")
    def condition(read: => Any): String =
      intercept[AnalysisException](read).getCondition
    val plain = condition(spark.read.parquet(s"$dir/t.parquet"))
    assert(plain == "PATH_NOT_FOUND")
    assert(condition(Tables.table(spark, dir, "t")) == plain)
    // a table read once and then deleted fails the same way
    Seq(1).toDF("id").write.parquet(s"$dir/t.parquet")
    Tables.table(spark, dir, "t")
    val table = new Path(s"$dir/t.parquet")
    table.getFileSystem(spark.sessionState.newHadoopConf()).delete(table, true)
    assert(condition(Tables.table(spark, dir, "t")) == plain)
  }

  test("two threads reading one table at once get equal schemas") {
    val dir = SyntheticFixtures.freshDir("tables_threads")
    Seq((1, "a")).toDF("id", "name").write.parquet(s"$dir/t.parquet")
    val pool = Executors.newFixedThreadPool(2)
    try {
      val read: Callable[StructType] = () => Tables.table(spark, dir, "t").schema
      val futures = Seq(pool.submit(read), pool.submit(read))
      val schemas = futures.map(_.get())
      assert(schemas.distinct.size == 1)
      assert(schemas.head == inferred(dir, "t"))
    } finally pool.shutdown()
  }

  test("spreadIfSmall spreads a sub-split table across the cores") {
    val dir = SyntheticFixtures.freshDir("tables_spread")
    Seq(1, 2, 3).toDF("id").write.parquet(s"$dir/t.parquet")
    val parts = Tables.spreadIfSmall(spark, dir, "t").queryExecution.analyzed
      .collectFirst { case r: Repartition => r.numPartitions }
    assert(parts.contains(spark.sparkContext.defaultParallelism))
  }
}
