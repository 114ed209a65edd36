package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** [[RankFilterToTopK]] — the window-rank-filter → bounded-heap rewrite,
  * as the shared suite session ([[graft.GraftSession]]) injects it. */
class RankFilterToTopKSpec extends SparkSpec {

  private def orders = spark.read.parquet(s"$sf0001/orders.parquet")
    .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))

  private def ranked(k: Int) = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    orders.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  test("rewrite fires: TopKPerGroup execs appear under the Window") {
    val df = ranked(2)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert("TopKPerGroup \\[".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("Window"), plan) // rank column still produced
  }

  test("rewritten output == un-rewritten output (total order), rank intact") {
    // the un-rewritten semantics, in plain Scala: rank each customer's
    // orders by (price desc, orderkey asc), keep ranks 1..3
    val expected = orders.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).values
      .flatMap(_.sortBy(o => (-o._3, o._2)).take(3).zipWithIndex
        .map { case ((c, o, _), i) => (c, o, i + 1) })
      .toSet
    val got = ranked(3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("rn = 1 and literal-first comparisons also rewrite") {
    val eq = {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      orders.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    }
    eq.collect()
    assert(eq.queryExecution.executedPlan.toString.contains("TopKPerGroup"))

    val flipped = {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      orders.withColumn("rn", row_number().over(w)).filter(lit(2) >= col("rn"))
    }
    flipped.collect()
    assert(flipped.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
  }

  test("does NOT rewrite: rank()/extra window cols/conjunctions/no filter") {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)

    val rankFn = orders.withColumn("rn", rank().over(w)).filter(col("rn") <= 2)
    rankFn.collect()
    assert(!rankFn.queryExecution.executedPlan.toString.contains("TopKPerGroup"))

    val twoCols = orders
      .withColumn("rn", row_number().over(w))
      .withColumn("mx", max(col("o_totalprice")).over(
        Window.partitionBy(col("o_custkey"))))
      .filter(col("rn") <= 2)
    twoCols.collect()
    assert(!twoCols.queryExecution.executedPlan.toString.contains("TopKPerGroup"))

    val conj = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2 && col("o_totalprice") > 0)
    conj.collect()
    assert(!conj.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
  }

  test("shared session: heap in the executed plan, no WindowGroupLimit") {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val df = spark.read.parquet(s"$sf0001/orders.parquet")
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), plan)
    assert(!plan.contains("WindowGroupLimit"), plan)
  }

  test("Spark's InferWindowGroupLimit node is stripped, not doubled") {
    // the main optimizer's InferWindowGroupLimit runs AFTER the batch
    // injected optimizer rules run in, and would insert a
    // WindowGroupLimit under the Window this rule rewrote; keeping both
    // would sort and limit the heap's output a second time
    val df = ranked(2)
    df.collect()
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("TopKPerGroup"), optimized)
    assert(!optimized.contains("WindowGroupLimit"),
      s"redundant WindowGroupLimit kept under the heap node:\n$optimized")
  }
}
