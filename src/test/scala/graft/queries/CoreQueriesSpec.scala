package graft.queries

import graft.SparkSpec

/** Smoke + sanity over sf0.001: every registered core query runs and its
  * schema column names match what the oracle SQL will produce (driver's
  * compare is column-name-sensitive). */
class CoreQueriesSpec extends SparkSpec {

  test("all core queries execute on sf0.001") {
    CoreQueries.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf0001)
      val n = df.count()
      assert(n >= 0, s"$name failed")
    }
  }

  test("every core query has an oracle and plausible column names") {
    CoreQueries.queries.keys.foreach { name =>
      assert(CoreQueries.oracle.contains(name), s"$name missing oracle")
      val cols = CoreQueries.queries(name)(spark, sf0001).columns
      cols.foreach { c =>
        assert(CoreQueries.oracle(name).toLowerCase.contains(c.toLowerCase),
          s"$name output column '$c' not mentioned in oracle SQL")
      }
    }
  }

  test("flagship entry returns rows on sf0.001") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query has an oracle twin and vice versa") {
    // the bench harness looks each query's oracle up by its key
    val (qs, os) = (graft.SparkEntry.queries.keySet,
      graft.SparkEntry.oracleSql.keySet)
    assert(qs.nonEmpty)
    assert(qs == os, s"no oracle: ${(qs -- os).toSeq.sorted}; " +
      s"no query: ${(os -- qs).toSeq.sorted}")
  }
}
