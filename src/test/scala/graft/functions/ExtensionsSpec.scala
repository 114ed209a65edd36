package graft.functions

import graft.SparkSpec
import graft.functions.expressions.{GraftExtensions, GraftFunctionRegistry}

/** The SQL registration surface: every custom expression callable from
  * `spark.sql`, with outputs matching the Column API / known vectors. */
class ExtensionsSpec extends SparkSpec {

  test("registerTemp exposes every expression to SQL with correct results") {
    GraftFunctionRegistry.registerTemp(spark)
    val r = spark.sql(
      """SELECT
        |  blake2b(CAST('abc' AS BINARY)) AS b2,
        |  blake2b(CAST('abc' AS BINARY), 32) AS b2_32,
        |  md5_prefix60('abc') AS m60,
        |  shingle_hashes('a b c d e f', 5) AS sh,
        |  minhash_sig(shingle_hashes('a b c d e f', 5), 8) AS mh,
        |  dot_double(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
        |  float32_le(X'0000803F', 0) AS f32,
        |  dicom_tags(X'00') AS dt,
        |  simhash32('a b c') AS sh32
        |""".stripMargin).first()
    assert(r.getAs[String]("b2").startsWith("ba80a53f981c4d0d"))
    assert(r.getAs[String]("b2_32").length === 64) // 32 bytes -> 64 hex chars
    // md5('abc') = 900150983cd24fb0... -> first 15 hex chars as decimal
    assert(r.getAs[Long]("m60") === java.lang.Long.parseLong("900150983cd24fb", 16))
    assert(r.getSeq[Long](r.fieldIndex("sh")).length === 2) // two 5-grams of 6 words
    assert(r.getSeq[Long](r.fieldIndex("mh")).length === 8)
    assert(r.getAs[Double]("dp") === 11.0)
    assert(r.getAs[Float]("f32") === 1.0f)
    assert(r.getAs[Map[String, String]]("dt") === null) // no DICM magic
    assert(r.getAs[Long]("sh32") ===
      graft.functions.expressions.SimHash32.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString("a b c")))
  }

  test("SQL minhash_sig matches the Column-API signature") {
    import org.apache.spark.sql.functions._
    val params = TextFunctions.minhashParams(16, 7L)
    val df = spark.createDataFrame(Seq(Tuple1("the quick brown fox jumps over the lazy dog today"))).toDF("text")
      .withColumn("sh", TextFunctions.shingleHashes60(col("text"), 3))
    val colSig = df.select(TextFunctions.minhashSignature(col("sh"), params))
      .first().getSeq[Long](0)
    df.createOrReplaceTempView("t_ext")
    val viaSql = spark.sql("SELECT minhash_sig(shingle_hashes(text, 3), 16, 7) FROM t_ext")
      .first().getSeq[Long](0)
    assert(viaSql === colSig)
  }

  test("GraftExtensions injects functions and the TopKPerGroup strategy") {
    val e = new org.apache.spark.sql.SparkSessionExtensions
    (new GraftExtensions).apply(e) // builder-time injection is well-formed
    // non-literal arg where a literal is required -> clear error
    val err = intercept[Exception] {
      spark.sql("SELECT shingle_hashes('a b c', cast(rand()*3 AS INT))").collect()
    }
    assert(err.getMessage.contains("integer literal"))
  }

  test("SQL-surface guards: arity errors, bigint-literal range check, " +
      "simhash64 registered") {
    val missing = intercept[Exception] {
      spark.sql("SELECT shingle_hashes('a b c')").collect()
    }
    assert(missing.getMessage.contains("argument"), missing.getMessage)
    // a bigint literal out of Int range must error, not truncate to n=1
    val big = intercept[Exception] {
      spark.sql("SELECT shingle_hashes('a b c', 4294967297)").collect()
    }
    assert(big.getMessage.contains("out of Int range"), big.getMessage)
    // the 64-bit scale-path fingerprint is reachable from SQL and matches
    // the Column form
    val viaSql = spark.sql("SELECT simhash64('alpha beta gamma')")
      .collect()(0).getLong(0)
    import spark.implicits._
    val viaCol = Seq("alpha beta gamma").toDF("t")
      .select(graft.functions.TextFunctions.simhash64Fused(
        org.apache.spark.sql.functions.col("t")))
      .collect()(0).getLong(0)
    assert(viaSql == viaCol)
  }
}
