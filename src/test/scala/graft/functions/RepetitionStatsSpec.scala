package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.CorpusOps

/** [[graft.functions.expressions.RepetitionStatsExpr]] — the fused map-only
  * repetition stats must match the explode→agg→join formulation (which is
  * also the shape of the q66 DuckDB oracle) row for row. */
class RepetitionStatsSpec extends SparkSpec {

  private def assertSame(df: org.apache.spark.sql.DataFrame): Unit = {
    val agg = CorpusOps.repetitionStats(df, "doc_id", "text",
      0.45, 0.12, 0.10)
    val fused = CorpusOps.repetitionStatsFused(df, "doc_id", "text",
      0.45, 0.12, 0.10)
    assert(agg.schema == fused.schema)
    assert(agg.exceptAll(fused).isEmpty && fused.exceptAll(agg).isEmpty)
  }

  test("fused == agg formulation on crafted edge cases") {
    import spark.implicits._
    assertSame(Seq(
      (1L, "a b c d"),
      (2L, "x x x x x y"),
      (3L, "w"),                    // single token -> NULL bigram frac
      (4L, "  padded   tokens  "),
      (5L, "p q p q p q"),          // dominant bigram both directions
      (6L, ""),                     // empty -> [""] single token
      (7L, "   ")                   // whitespace-only -> same
    ).toDF("doc_id", "text"))
  }

  test("fused == agg formulation on the sf0.001 documents table") {
    assertSame(spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")))
  }

  test("SQL surface exposes repetition_stats") {
    val r = spark.sql(
      "SELECT s.* FROM (SELECT repetition_stats('a b a') AS s)").first()
    assert(r.getAs[Long]("n_tokens") == 3L)
    assert(r.getAs[Long]("n_distinct") == 2L)
    assert(r.getAs[Long]("top_word") == 2L)
    assert(r.getAs[Long]("n_bigrams") == 2L)
    assert(r.getAs[Long]("top_bigram") == 1L)
  }
}
